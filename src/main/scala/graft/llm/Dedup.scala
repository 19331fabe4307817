package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextAnalysis.md5i

/**
 * Deduplication operators for training-data pipelines: exact,
 * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
 * Beyond the reference's surface; north-star LLM-pipeline scope.
 *
 * Scale posture (the 100 TB contract):
 *  - exact dedup is a hash shuffle on the key — one exchange;
 *  - MinHash signatures are computed INSIDE a projection (higher-order
 *    array functions, no explode, no shuffle); only the band→bucket
 *    join shuffles, and it shuffles 8 short band keys per doc rather
 *    than the document text;
 *  - candidate verification joins text back in only for candidate
 *    pairs (tiny vs the corpus);
 *  - blocked pairwise ops (n-gram Jaccard, embedding cosine) take
 *    explicit blocking columns so the cross-product is per-block,
 *    never global.
 */
object Dedup {

  /**
   * Exact deduplication: one representative row per key, the row with
   * the smallest `orderCol` (deterministic). Implemented as a window
   * rank over the key hash — a single shuffle on the key columns;
   * map-side combine does the heavy collapse for skewed keys under AQE.
   */
  def exact(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    val rn = graft.core.Engine.freshColumn(df, "__graft_exact_rn")
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1).drop(rn)
  }

  /**
   * Exact dedup keeping the BEST row per key — highest `scoreCol`,
   * ties (and null OR NaN scores, both ordered last — Spark would
   * otherwise rank NaN above every real score) broken by smallest
   * `idCol` — the corpus recipe when duplicates differ in extraction
   * quality and "first seen" is the wrong survivor. Same
   * single-shuffle window shape as [[exact]]; the top-1 rank
   * collapses map-side (WindowGroupLimit) for skewed keys.
   */
  def exactKeepBest(df: DataFrame, keyCols: Seq[String], scoreCol: String,
                    idCol: String): DataFrame = {
    val sc0 = col(scoreCol)
    val sc = df.schema(scoreCol).dataType match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType => when(!isnan(sc0), sc0)
      case _ => sc0
    }
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(sc.desc_nulls_last, col(idCol))
    val rn = graft.core.Engine.freshColumn(df, "__graft_best_rn")
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1).drop(rn)
  }

  /** Distinct word n-gram shingles of a text column; texts shorter
   *  than `n` tokens yield an empty set (the `when` guard keeps the
   *  negative-length slices of the short-doc case unevaluated).
   *  Gram strings come from the one shared builder
   *  ([[TextAnalysis.ngramJoin]] — zip_with over shifted slices). */
  def shingles(text: Column, n: Int = 3): Column = {
    val w = split(text, "\\s+")
    when(size(w) >= n, array_distinct(TextAnalysis.ngramJoin(w, n)))
      .otherwise(array().cast("array<string>"))
  }

  /** Large prime > 2^32 for the permutation ring. */
  private val MinHashP = 4294967311L

  /** Hashed shingle set: each shingle hashed ONCE (md5i). Downstream
   *  minhash/jaccard work on longs — 32× fewer digest calls than
   *  hashing per-permutation, and pair verification intersects 8-byte
   *  longs instead of shingle strings. */
  def hashedShingles(text: Column, n: Int = 3): Column =
    transform(shingles(text, n), s => md5i(s))

  /**
   * MinHash signature over hashed shingles: permutation i is the
   * linear map `h → ((2i+1)·h + 12582917·i + 1) mod P` (odd multiplier,
   * distinct offsets, P prime > 2^32); sig_i = min over shingles.
   *
   * NOTE: as a Column expression the `hashedSh` subtree is duplicated
   * into all k permutation minima (no common-subexpression reuse
   * across array lambdas) — fine for ad-hoc use on precomputed hash
   * columns; corpus-scale pipelines use [[minHashSignatures]], which
   * hashes once via aggregation.
   */
  def minHashSignature(hashedSh: Column, k: Int = 32): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(hashedSh,
        h => ((lit(2L) * i + 1L) * h + lit(12582917L) * i + 1L) % MinHashP)))

  /** Ensure enough partitions for per-row heavy compute: small inputs
   *  (e.g. one parquet file) otherwise run single-task. The probe is
   *  the OPTIMIZED-plan size estimate (driver-side, no physical
   *  planning, no RDD translation — an earlier `df.rdd
   *  .getNumPartitions` probe paid a full plan translation outside
   *  AQE per call): when the input is smaller than `target ×
   *  maxPartitionBytes`, the file scan cannot yield `target`
   *  partitions, so repartition. A corpus-scale input skips the
   *  shuffle entirely — an UNCONDITIONAL repartition measured 10× on
   *  the simhash bench by reshuffling full text even when the scan
   *  was already well-split. When triggered, the explicit count
   *  (REPARTITION_BY_NUM) is not coalesced away by AQE. */
  private def spread(df: DataFrame): DataFrame =
    graft.core.Par.spread(df) // shared since r19 — see core.Par for the probe rationale

  /**
   * Per-document MinHash signatures as a DataFrame (`idCol`, `__sig`):
   * shingles explode to rows, each hashed ONCE, and the k permutation
   * minima come from one hash aggregation — partial (map-side) min
   * means the shuffle carries k longs per document, not the shingles.
   * The Aggregate node is also a projection-collapse barrier: without
   * it Catalyst inlines the signature expression into every consumer
   * (8 band slices × 2 join sides ⇒ up to 256× recompute of the
   * shingle hashing — measured 70 s vs 2 s at sf0.1).
   * Documents with fewer than `shingleN` tokens have no shingles and
   * produce no signature (they cannot be similar to anything).
   */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 32, shingleN: Int = 3): DataFrame = {
    val perms = (0 until k).map { i =>
      min((lit(2L * i + 1) * col("__h") + lit(12582917L * i + 1)) % MinHashP)
    }
    // project to the two needed columns BEFORE spreading (guide §2.3 /
    // the helper's own call-site discipline, r20): the round-robin
    // exchange then provably carries only (id, text) instead of
    // depending on Catalyst pushing the pruning below the repartition
    spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(hashedShingles(col(textCol), shingleN)).as("__h"))
      .groupBy(idCol)
      .agg(array(perms: _*).as("__sig"))
  }

  /**
   * Banded LSH candidate pairs: signatures split into `bands` bands of
   * `k/bands` rows; docs sharing any full band become a candidate pair.
   * Returns (`idCol`_1, `idCol`_2) with id1 < id2, distinct. Only the
   * short band keys shuffle in the bucket self-join.
   *
   * Hot-bucket cap: a bucket of B near-identical documents otherwise
   * emits B² candidate pairs — one mass-duplicated boilerplate page in
   * a web corpus can dominate the whole job. Buckets larger than
   * `maxBucketSize` are DROPPED (documented recall trade: pairs that
   * only collide in degenerate buckets are missed; run [[exact]] dedup
   * first if mass duplication is expected). The count is a window over
   * the band keys — the same partitioning the self-join needs anyway.
   */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                        maxBucketSize: Int = 1000): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    bandCandidates(minHashSignatures(df, idCol, textCol, k, shingleN),
      idCol, k, bands, maxBucketSize)
  }

  /** Band-bucket candidate pairs from precomputed (`idCol`, `__sig`)
   *  signatures — the join half of [[minHashCandidates]]. */
  private def bandCandidates(sigs: DataFrame, idCol: String, k: Int,
                             bands: Int, maxBucketSize: Int): DataFrame = {
    val r = k / bands
    val withBands = sigs
      .select(col(idCol), posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws(",", slice(col("__sig"), b * r + 1, lit(r))))))
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__key"))
      .withColumn("__bsz",
        count(lit(1)).over(Window.partitionBy("__band", "__key")))
      .filter(col("__bsz") <= maxBucketSize)
    val a = withBands.select(col(idCol).as("id1"), col("__band"), col("__key"))
    val b = withBands.select(col(idCol).as("id2"), col("__band"), col("__key"))
    a.join(b, Seq("__band", "__key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Exact Jaccard similarity of two shingle-set columns (ratio of two
   *  small integers — bit-exact in any engine). Two EMPTY sets score
   *  0.0 rather than 0/0: Spark 4 runs ANSI mode by default, where even
   *  double division by zero throws DIVIDE_BY_ZERO, and empty docs are
   *  routine in training corpora (any two sub-shingle-length docs in
   *  one block would otherwise kill the whole query). */
  def jaccard(sh1: Column, sh2: Column): Column = {
    val union = size(array_distinct(concat(sh1, sh2)))
    when(union === 0, lit(0.0))
      .otherwise(size(array_intersect(sh1, sh2)).cast("double") /
        union.cast("double"))
  }

  /**
   * Full MinHash-LSH near-dup pipeline: candidates from banded LSH,
   * then exact-Jaccard verification ≥ `threshold`. Output
   * (id1, id2, jaccard) — only verified pairs survive, so LSH
   * false positives cost a join lookup, never a wrong answer.
   *
   * The verification shingle sets are recomputed per join side rather
   * than persisted: caching a nested-array relation pays a columnar
   * encode that measured ~2× the whole query (unlike the jaccard
   * join's shingle relation, which amortizes a frequency join across
   * four consumers), while re-running the codegen'd scan+md5 pipeline
   * is cheap.
   *
   * Fault-tolerance trade (applies to every localCheckpoint in this
   * module): checkpoint blocks truncate lineage, so an executor loss
   * mid-job fails the query instead of recomputing — the price of
   * deterministic cache lifecycle (blocks free themselves on GC; a
   * persist() here leaks CacheManager entries a lazy operator cannot
   * release). On a preemption-heavy cluster, re-running the failed
   * query is the recovery path; a reliable-checkpoint variant is the
   * knob to add if that trade inverts.
   */
  def minHashDedup(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                   threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    // Signatures ride a lazy localCheckpoint, not a persist(): both
    // band-join sides must read them, and when AQE turns the band
    // self-join into a broadcast join the two sides stop sharing an
    // exchange (BroadcastExchange never canonicalizes equal to a
    // shuffle), so without materialization the scan+shingle+hash
    // aggregation runs twice. Checkpoint blocks give compute-once with
    // self-managed lifecycle — ContextCleaner frees them when the
    // returned frame is garbage-collected. (An earlier persist() here
    // leaked a CacheManager entry per invocation: in a long-lived
    // session the orphans evict each other and every rebuild repays
    // the columnar encode — the round-4 bench measured 10× on exactly
    // this query.)
    val sigs = minHashSignatures(df, idCol, textCol, k, shingleN)
      .localCheckpoint(false)
    val cands = bandCandidates(sigs, idCol, k, bands, maxBucketSize)
    // Verify on hashed shingle sets: same Jaccard (md5i is injective up
    // to negligible 2^-32 collisions, reproduced exactly by the oracle).
    val sh = spread(df.select(col(idCol), col(textCol))) // project-then-spread (§2.3)
      .select(col(idCol), hashedShingles(col(textCol), shingleN).as("__sh"))
    cands
      .join(sh.select(col(idCol).as("id1"), col("__sh").as("__sh1")), "id1")
      .join(sh.select(col(idCol).as("id2"), col("__sh").as("__sh2")), "id2")
      .select(col("id1"), col("id2"), jaccard(col("__sh1"), col("__sh2")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * SCREENING-mode near-dup pairs: banded LSH candidates scored by the
   * SIGNATURE-estimated Jaccard — the fraction of equal MinHash
   * positions, an unbiased estimator of J (E[sig_i(A)=sig_i(B)] = J,
   * the MinHash property; stderr ≈ √(J(1−J)/k)). Skips
   * [[minHashDedup]]'s exact-verification joins entirely: no second
   * pass over document text, the verification join touches k longs per
   * doc instead of shingle sets — the right mode for a first 100 TB
   * screening sweep where a ±1/√k similarity error is acceptable (or
   * feeds a candidate list into exact verification later). Returns
   * (id1, id2, est_jaccard ≥ `estThreshold`).
   */
  def minHashEstPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                      estThreshold: Double = 0.5,
                      maxBucketSize: Int = 1000): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    // same compute-once lifecycle rationale as [[minHashDedup]]
    val sigs = minHashSignatures(df, idCol, textCol, k, shingleN)
      .localCheckpoint(false)
    val cands = bandCandidates(sigs, idCol, k, bands, maxBucketSize)
    val matches = size(filter(
      zip_with(col("__s1"), col("__s2"), (a, b) => a === b), x => x))
    cands
      .join(sigs.select(col(idCol).as("id1"), col("__sig").as("__s1")), "id1")
      .join(sigs.select(col(idCol).as("id2"), col("__sig").as("__s2")), "id2")
      .select(col("id1"), col("id2"),
        (matches.cast("double") / lit(k.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= estThreshold)
  }

  /**
   * SimHash fingerprint over whitespace tokens, `bits` wide: for each
   * bit position, tokens vote ±1 by that bit of their hash; the bit is
   * set when the vote sum is positive. Near-identical documents land
   * within small Hamming distance. Pure projection — no shuffle.
   *
   * NOTE: as a Column expression the token-hash subtree is duplicated
   * into all `bits` vote aggregates (Catalyst has no common-
   * subexpression reuse across array lambdas) — fine for ad-hoc use;
   * for corpus-scale runs use [[simHashSignatures]], which hashes each
   * token once.
   */
  def simHash(text: Column, bits: Int = 16): Column = {
    val hs = transform(split(text, "\\s+"), t => md5i(t))
    val bitCols = (0 until bits).map { i =>
      val vote = aggregate(hs, lit(0L),
        (acc, h) => acc + when(shiftright(h, i) % 2 === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /**
   * Corpus-scale SimHash: tokens explode to rows, each hashed ONCE,
   * and the `bits` vote sums come from one hash aggregation with
   * map-side partial aggregation (the shuffle carries `bits` longs per
   * document). Same result as [[simHash]]; 16× fewer digests at the
   * default width. Returns (`idCol`, simhash).
   */
  def simHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 62,
      s"bits=$bits: signatures must fit non-negative long range")
    val votes = (0 until bits).map { i =>
      sum(when(shiftright(col("__h"), i) % 2 === 1, 1L).otherwise(-1L))
    }
    val sig = votes.zipWithIndex
      .map { case (v, i) => when(v > 0, lit(1L << i)).otherwise(lit(0L)) }
      .reduce(_ + _)
    spread(df.select(col(idCol), col(textCol))) // project-then-spread (§2.3)
      .select(col(idCol), explode(split(col(textCol), "\\s+")).as("__t"))
      .select(col(idCol), md5i(col("__t")).as("__h"))
      .groupBy(idCol)
      .agg(sig.as("simhash"))
  }

  /**
   * Blocked n-gram Jaccard near-dup pairs via a PREFIX-FILTERED
   * set-similarity join (the PPJoin family, Xiao et al., WWW'08 —
   * public algorithm). Candidate pairs must share `blockCols` values
   * AND a shingle within each other's τ-prefix; survivors are verified
   * with exact Jaccard ≥ `threshold`, so the output is IDENTICAL to
   * the naive per-block all-pairs join.
   *
   * Prefix-filter soundness (any global total order on shingles;
   * here: ascending document frequency, ties by hash): J(A,B) ≥ τ
   * implies |A∩B| ≥ τ·|A∪B| ≥ ⌈τ·max(|A|,|B|)⌉, so the order-smallest
   * common element c cannot sit past position |X| − ⌈τ|X|⌉ + 1 in
   * either set — otherwise the ≥ ⌈τ|X|⌉ common elements would have to
   * fit in the ⌈τ|X|⌉ − 1 slots after c. Hence c lies in BOTH prefixes
   * and the equi-join on exploded prefixes finds every qualifying pair.
   *
   * Scale posture (vs the previous salted per-block all-pairs): the
   * join key is (block, prefix-shingle) — candidate work is Σ over
   * prefix shingles of (docs sharing it)², instead of Σ over blocks of
   * |block|² which explodes on hot blocks (a language column yields ~4
   * blocks). The RAREST-FIRST canonical order is what makes this hold
   * on natural text: hot shingles (stopword n-grams shared by a large
   * corpus fraction) sort to the END of every document, so they never
   * enter any prefix and never form a join bucket — the classic PPJoin
   * ordering. False candidates cost one verification, never a wrong
   * answer. Shingles are hashed ONCE (explode + aggregate — the
   * Aggregate node is also the CollapseProject barrier that stops
   * per-consumer re-hashing of the corpus).
   */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String], shingleN: Int = 3,
                        threshold: Double = 0.5): DataFrame = {
    // Postings (doc, shingle-hash), one digest per shingle. The
    // explicit not-null filter on (id, blockCols) matches the
    // null-filters the downstream joins would push into each branch,
    // keeping the branches canonically equal for exchange reuse.
    // (Null ids / block values never joined anyway.)
    val notNull = (idCol +: blockCols).map(col(_).isNotNull).reduce(_ && _)
    // xxhash64, not md5i: the verified output (id1, id2, jaccard) is
    // HASH-AGNOSTIC — prefix-filter soundness holds under any global
    // total order, and Jaccard over injectively-hashed sets equals
    // Jaccard over the string sets (64-bit collisions: ~(n²/2⁶⁵) ≈
    // never) — so the cheapest injective hash wins. Measured 1.3 s/pass
    // cheaper than md5 at sf0.1, and this pass runs twice (frequency
    // aggregation + postings join). md5i stays in the minhash/
    // decontamination paths, whose oracles must replay hash VALUES.
    // NULL-GUARD: unlike md5i, xxhash64 maps null to its SEED (42) —
    // unguarded, every empty document would hash to {42} and pair with
    // every other empty document at jaccard 1.0.
    val postings = spread(df.where(notNull) // project-then-spread (§2.3)
        .select((blockCols :+ idCol :+ textCol).distinct.map(col): _*))
      .select((blockCols.map(col) :+ col(idCol).as("__id") :+
        explode_outer(shingles(col(textCol), shingleN)).as("__s")): _*)
      .select((col("__id") +: blockCols.map(col)) :+
        when(col("__s").isNotNull, xxhash64(col("__s"))).as("__h"): _*)
    // Global document frequency per shingle — defines the rare-first
    // order. Map-side partial count keeps the aggregation linear; the
    // postings⋈freq join shuffles by shingle hash, where AQE skew
    // splitting handles the hot keys.
    val freq = postings.groupBy("__h").agg(count(lit(1)).as("__f"))
    // Per-doc shingle sets sorted by (freq asc, hash asc). Inner join
    // drops empty docs (null __h) — they cannot pair anyway (J = 0).
    // Materialization point: the FLAT (id, block, hash, freq) relation
    // rides a lazy localCheckpoint, not the nested-array `sh` above it.
    // Four consumers read `sh` (both prefix sides + both verification
    // joins) and exchange reuse does not reliably fire across them, so
    // something must materialize once — but a CacheManager persist()
    // leaks until an explicit unpersist this lazy operator has no place
    // to issue, and checkpointing `sh` itself pays a row-serialized
    // encode of the nested long arrays (measured ~1.3× the whole query
    // at sf0.1). Flat longs encode cheap; everything expensive to
    // RECOMPUTE (corpus scan, shingle explode, hashing, the frequency
    // shuffle join) sits below this line, while the groupBy above it
    // re-runs per consumer reading checkpoint blocks — and its exchange
    // is canonically identical across all four consumers, so AQE stage
    // reuse shuffles it once. Checkpoint blocks are ContextCleaner-
    // managed: they free themselves when the returned frame is garbage-
    // collected, so a long-lived session running many dedup passes
    // accumulates nothing. Lazy (eager=false) keeps the operator
    // composable — nothing executes until the caller's action.
    // DISK_ONLY, not MEMORY_AND_DISK: the flat-long blocks re-read
    // cheaply, and keeping them OUT of unified memory stops them
    // competing with the four consumers' execution memory — measured
    // best-of-3 7.8 → 5.5 s (GC 233 → 104 ms, leftover storage
    // 37 → 10 MB) on the same harness at HIGHER machine load.
    val flat = postings.join(freq, Seq("__h"))
      .localCheckpoint(false, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val sh = flat
      .groupBy((col("__id") +: blockCols.map(col)): _*)
      .agg(transform(array_sort(collect_set(struct(col("__f"), col("__h")))),
        s => s.getField("__h")).as("__sh"))
      .withColumn("__n", size(col("__sh")))
    // τ-prefix explode: t = ⌈τ·n⌉ computed with a 1e-9 slack so float
    // rounding can only LENGTHEN the prefix (longer prefix stays sound).
    val t = ceil(lit(threshold) * col("__n") - lit(1e-9)).cast("int")
    val pre = sh.select((blockCols.map(col) :+ col("__id") :+ col("__n") :+
      explode(slice(col("__sh"), lit(1), greatest(col("__n") - t + 1, lit(0)))).as("__p")): _*)
    val a = pre.select(blockCols.map(col) :+ col("__id").as("id1") :+
      col("__n").as("__n1") :+ col("__p"): _*)
    val b = pre.select(blockCols.map(col) :+ col("__id").as("id2") :+
      col("__n").as("__n2") :+ col("__p"): _*)
    val cands = a.join(b, blockCols :+ "__p")
      .filter(col("id1") < col("id2"))
      // Sound size prefilter: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so
      // J ≥ τ requires min ≥ τ·max — drops size-incompatible pairs
      // before the distinct/verification, with no output change.
      .filter(least(col("__n1"), col("__n2")).cast("double") >=
        lit(threshold) * greatest(col("__n1"), col("__n2")).cast("double"))
      .select("id1", "id2").distinct()
    cands
      .join(sh.select(col("__id").as("id1"), col("__sh").as("__sh1")), "id1")
      .join(sh.select(col("__id").as("id2"), col("__sh").as("__sh2")), "id2")
      .select(col("id1"), col("id2"), jaccard(col("__sh1"), col("__sh2")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * Directed CONTAINMENT pairs: `(src, dst)` where
   * `|sh(src) ∩ sh(dst)| / |sh(src)| ≥ threshold` over word-n-gram
   * shingle sets — the asymmetric overlap [[ngramJaccardPairs]]'
   * symmetric Jaccard cannot see ("this doc is a quote/wrapper/
   * re-post OF that one": a 50-token doc fully inside a 5000-token
   * doc has Jaccard ~0.01 but containment 1.0). The dedup policy
   * step for boilerplate wrappers, quoted reposts, and prompt-
   * template expansion.
   *
   * Candidate generation is the one-sided prefix filter: with
   * `a = |sh(src)|`, containment ≥ τ forces ≥ ⌈τ·a⌉ shared shingles,
   * so at least one of src's `a − ⌈τ·a⌉ + 1` RAREST shingles (the
   * global df-ascending order — the [[ngramJaccardPairs]] rare-first
   * discipline) appears in dst; the probe side explodes only that
   * prefix while the INDEXED side posts its full sets (dst has no
   * size constraint — that is what asymmetric means). A sound size
   * prefilter (`|dst| ≥ τ·|src|`, since overlap ≤ |dst|) drops
   * incompatible pairs before verification; verification intersects
   * the two hashed sets exactly.
   *
   * Output: (src_id, dst_id, overlap, containment), DIRECTED —
   * near-identical docs of similar size appear in both directions.
   *
   * Scale posture: inherits the q26 shape — one flat checkpointed
   * (id, hash, freq) relation, shingle-keyed candidate join where
   * probe-side keys are rare by construction, k-bounded nothing,
   * hot-block ceiling documented there.
   */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, threshold: Double = 0.8)
  : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0,1], got $threshold")
    // spread (r19): shingle explode + hashing are scan-stage work —
    // single-task over a one-split input (guide §2.5; no-op when split)
    val postings = spread(df.where(col(idCol).isNotNull) // project-then-spread (§2.3)
        .select(col(idCol), col(textCol)))
      .select(col(idCol).as("__id"),
        explode_outer(shingles(col(textCol), shingleN)).as("__s"))
      .select(col("__id"),
        when(col("__s").isNotNull, xxhash64(col("__s"))).as("__h"))
    val freq = postings.groupBy("__h").agg(count(lit(1)).as("__f"))
    // the ngramJaccardPairs materialization rationale applies
    // verbatim: flat longs checkpoint cheap, consumers re-read
    val flat = postings.join(freq, Seq("__h"))
      .localCheckpoint(false, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val sh = flat
      .groupBy(col("__id"))
      .agg(transform(array_sort(collect_set(struct(col("__f"), col("__h")))),
        s => s.getField("__h")).as("__sh"))
      .withColumn("__n", size(col("__sh")))
    // 1e-9 slack: float rounding can only LENGTHEN the prefix (sound)
    val t = ceil(lit(threshold) * col("__n") - lit(1e-9)).cast("int")
    val pre = sh.select(col("__id").as("src_id"), col("__n").as("__na"),
      explode(slice(col("__sh"), lit(1),
        greatest(col("__n") - t + 1, lit(0)))).as("__p"))
    val full = sh.select(col("__id").as("dst_id"), col("__n").as("__nb"),
      explode(col("__sh")).as("__p"))
    val cands = pre.join(full, Seq("__p"))
      .filter(col("src_id") =!= col("dst_id"))
      .filter(col("__nb").cast("double") >=
        lit(threshold) * col("__na").cast("double"))
      .select("src_id", "dst_id").distinct()
    cands
      .join(sh.select(col("__id").as("src_id"), col("__sh").as("__sh1"),
        col("__n").as("__na")), "src_id")
      .join(sh.select(col("__id").as("dst_id"), col("__sh").as("__sh2")),
        "dst_id")
      .withColumn("overlap",
        size(array_intersect(col("__sh1"), col("__sh2"))).cast("long"))
      .withColumn("containment",
        col("overlap").cast("double") / col("__na").cast("double"))
      .filter(col("containment") >= threshold)
      .select("src_id", "dst_id", "overlap", "containment")
  }

  /**
   * Connected components over an undirected pair list — the step every
   * dedup pipeline needs after near-dup PAIR generation: pairs chain
   * (A~B, B~C ⇒ {A,B,C} is one duplicate cluster), and the keep-one
   * decision is per CLUSTER, not per pair. Returns (`node`,
   * `component`) for every id appearing in `pairs`, where `component`
   * is the smallest id in the node's component (deterministic
   * canonical representative; "smallest" in Spark's ordering of the id
   * type, so strings compare as UTF-8 bytes).
   *
   * Algorithm: a hybrid — distributed rounds only while the graph is
   * too big for one machine (Kiveris et al., SoCC 2014). The
   * symmetric, de-duplicated edge list is built once; then one limited
   * collect ([[graft.core.DriverFinish]], shared with
   * [[graft.join.Spatial.gridClusters]]) fetches at most cap + 1 of its
   * rows, where cap is
   * `spark.sql.autoBroadcastJoinThreshold` (the session's own "small
   * enough to ship whole" line) over a per-edge size estimate from the
   * id type's `defaultSize`.
   *  - At most cap rows: union-find on the driver, the smaller id
   *    always becoming the root, so every root is its component's
   *    minimum. Always converges, whatever the diameter; `maxIter`
   *    does not apply.
   *  - Otherwise (or a threshold ≤ 0, a null id among the fetched
   *    rows, or an id type whose driver-side equality is not Spark's):
   *    iterative min-label propagation with pointer jumping — each
   *    round every node takes the min of its own label and its
   *    neighbors' labels, then follows its label's label; stop when a
   *    round changes nothing. Rounds are O(log diameter); `maxIter`
   *    bounds them, and only this loop warns when it stops with labels
   *    still changing. Each round is joins + one aggregation,
   *    all distributed; the convergence check is a count of changed
   *    labels (one action per round).
   * Both paths give the same rows and schema (pinned by PropertySpec).
   *
   * Lifecycle: the edge list is a CacheManager entry released on both
   * paths before returning. The driver finish hands back a local
   * relation — lineage-free, no blocks at all. The loop frees every
   * per-round label table inside the loop — round 1's cache entry via
   * unpersist(), every later round's localCheckpoint BLOCKS via a
   * direct drop of the checkpointed RDD (a checkpoint is not a
   * CacheManager entry, so unpersist() alone would leave one
   * label-table copy per round in executor storage until the
   * ContextCleaner GC'd it) — and hands the final labels back as an
   * eager localCheckpoint: already materialized (the loop counted it),
   * lineage-free (no recompute through dropped rounds), and
   * ContextCleaner-managed, so those blocks free themselves when the
   * caller drops the frame. After this returns, the CacheManager holds
   * nothing and no loop-round blocks remain.
   */
  def components(pairs: DataFrame, id1: String = "id1", id2: String = "id2",
                 maxIter: Int = 20): DataFrame = {
    val idType = symmetricEdges(pairs, id1, id2).schema("a").dataType
    // per-edge size: two ids plus the row overhead
    components(pairs, id1, id2, maxIter,
      graft.core.DriverFinish.cap(pairs.sparkSession, 8L + 2L * idType.defaultSize))
  }

  /** [[components]] with an explicit driver-finish edge cap; `cap` ≤ 0
   *  always runs the distributed loop. */
  private[graft] def components(pairs: DataFrame, id1: String, id2: String,
                                maxIter: Int, cap: Long): DataFrame = {
    val edges = symmetricEdges(pairs, id1, id2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // initial label = min(self, direct neighbors): the first
    // propagation round fused into initialization — one aggregation
    // instead of a distinct + join + convergence check. Its schema is
    // the result schema on both paths.
    val init = edges.groupBy(col("a").as("node"))
      .agg(least(col("a"), min(col("b"))).as("component"))
    val idType = init.schema("node").dataType
    val small =
      if (!graft.core.DriverFinish.hashable(idType)) None
      // a null id stays on the loop, whose null handling is the contract
      else graft.core.DriverFinish.fetch(edges, cap)
        .filterNot(_.exists(r => r.isNullAt(0) || r.isNullAt(1)))
    val out = small match {
      case Some(rows) =>
        // every node appears as `a` in the symmetric edge list
        val labels = graft.core.DriverFinish.unionFind(idType,
          rows.iterator.map(r => (r.get(0), r.get(1))))
        import scala.jdk.CollectionConverters._
        pairs.sparkSession.createDataFrame(
          labels.map { case (n, c) => Row(n, c) }.asJava, init.schema)
      case None => propagate(edges, init, maxIter)
    }
    edges.unpersist()
    out
  }

  private def symmetricEdges(pairs: DataFrame, id1: String, id2: String): DataFrame =
    pairs.select(col(id1).as("a"), col(id2).as("b"))
      .unionByName(pairs.select(col(id2).as("a"), col(id1).as("b")))
      .distinct()

  /** The distributed finish: min-label propagation + pointer jumping
   *  from `init`, at most `maxIter` rounds (see [[components]]). */
  private def propagate(edges: DataFrame, init: DataFrame, maxIter: Int): DataFrame = {
    var labels = init
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var i = 0
    var done = false
    var lastChanged = 0L
    while (!done && i < maxIter) {
      // candidate label per node: min over self and neighbor labels
      val viaNeighbors = edges
        .join(labels.select(col("node").as("b"), col("component")), "b")
        .groupBy(col("a").as("node"))
        .agg(min(col("component")).as("__nb"))
      // localCheckpoint, not bare persist: each round's LOGICAL plan
      // embeds the previous round's twice (labels feeds viaNeighbors
      // AND the join), so without a lineage cut the tree DOUBLES per
      // round — long-diameter graphs (measured round 14: a 68-cell
      // grid-adjacency graph needing ~14 rounds) OOM'd the DRIVER on
      // plan-tree strings alone. The checkpoint collapses round k to
      // a LogicalRDD leaf; growth stays linear. `__old` rides INSIDE
      // the checkpoint, so the convergence count is a cheap filter
      // over the materialized blocks — no extra join, and no observe()
      // metric (an Observation on a lazily-checkpointed plan resolved
      // 0 while labels were still changing — the round-14 q319 early
      // stop; the explicit count is the only signal that survives the
      // checkpoint).
      val propagated = labels.withColumnRenamed("component", "__old")
        .join(viaNeighbors, Seq("node"), "left")
        .select(col("node"),
          least(col("__old"), coalesce(col("__nb"), col("__old")))
            .as("__prop"), col("__old"))
      // POINTER JUMPING: follow the label's own label (every label is
      // a node id, so it has a row). Labels are min-monotone, so
      // label-of-label ≤ label; this shortcut turns the worst-case
      // round count from O(diameter) — which the round-14 grid-
      // corridor case showed is a real workload, not a corner — into
      // O(log diameter) for one extra label-table-sized join per round.
      val parents = propagated
        .select(col("node").as("__pn"), col("__prop").as("__pc"))
      val nextAll = propagated
        .join(parents, propagated("__prop") === parents("__pn"), "left")
        .select(col("node"),
          least(col("__prop"), coalesce(col("__pc"), col("__prop")))
            .as("component"), col("__old"))
        .localCheckpoint(false)
      // This count materializes EVERY partition into the checkpoint
      // blocks before the predecessor is released, AND returns the
      // convergence signal in the same action.
      val changed = nextAll
        .filter(col("component") =!= col("__old")).count()
      // Round 1's labels is a CacheManager entry (persist above) →
      // unpersist() frees it. Rounds ≥ 2 are localCheckpoints, where
      // unpersist() is a CacheManager NO-OP — the blocks belong to
      // the checkpointed RDD and would otherwise sit in executor
      // storage until the ContextCleaner GC'd the round's RDD object,
      // accumulating one label-table copy per round across a long
      // run. Drop the checkpoint RDD's blocks directly.
      labels.unpersist()
      org.apache.spark.sql.GraftShims.unpersistCheckpoint(labels)
      labels = nextAll.select("node", "component")
      lastChanged = changed
      done = changed == 0
      i += 1
    }
    if (lastChanged != 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"components: labels still changing after maxIter=$maxIter rounds " +
          s"($lastChanged nodes) — component ids may not be cluster minima; " +
          "raise maxIter for long similarity chains")
    // One cheap pass copies the (small: paired docs only) label table
    // out of the CacheManager into self-cleaning checkpoint blocks,
    // then BOTH remaining cache entries are released eagerly.
    val out = labels.localCheckpoint(true)
    labels.unpersist() // cache entry when the loop ran 0 rounds
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(labels)
    out
  }

  /**
   * End-to-end near-dup removal: given the corpus and a near-dup pair
   * list (from [[minHashDedup]], [[ngramJaccardPairs]], or
   * [[embeddingNearDup]]), keep each duplicate CLUSTER's canonical
   * representative (min id via [[components]]) plus every document in
   * no pair. One anti-join against the non-canonical ids — the
   * cluster table is tiny relative to the corpus (only paired docs),
   * so the join broadcasts.
   */
  def dropNearDuplicates(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val dupIds = components(pairs)
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /**
   * Benchmark decontamination hits: for each corpus document, the
   * number of DISTINCT word `n`-grams it shares with any document in
   * `benchmark` — the standard train/test-overlap check (n-gram
   * collision decontamination, as published for GPT-2/GPT-3-style
   * pipelines; production uses n≈13, tests use smaller n).
   * Returns (`idCol`, n_hits) for contaminated documents only.
   *
   * Scale posture: the benchmark side (eval sets — MBs, not TBs) is
   * collapsed to a DISTINCT n-gram hash relation and broadcast, so the
   * 100 TB corpus side never shuffles: shingle, hash, broadcast-join,
   * partial-agg per document. One pass over the corpus.
   *
   * Grams are compared via the 60-bit [[TextAnalysis.md5l]], not the
   * 32-bit md5i: with ~10⁶ distinct benchmark grams, 32 bits gives a
   * ~2×10⁻⁴ false-match rate PER CORPUS GRAM — a thousand-gram
   * document would be falsely flagged with probability ~20%, and
   * [[decontaminate]]'s default minHits=1 would then delete a large
   * corpus fraction for no reason. At 60 bits the same probe is
   * ~10⁻¹² (and the identical-hash oracle can't mask this class of
   * error because collisions are a property of the hash, not the
   * engine).
   */
  def contaminationHits(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String,
                        n: Int = 13): DataFrame = {
    def grams(text: Column): Column =
      transform(shingles(text, n), s => TextAnalysis.md5l(s))
    val benchGrams = benchmark
      .select(explode(grams(col(textCol))).as("__h"))
      .distinct()
    spread(corpus.select(col(idCol), col(textCol))) // project-then-spread (§2.3)
      .select(col(idCol), explode(grams(col(textCol))).as("__h"))
      .join(broadcast(benchGrams), Seq("__h"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))
  }

  /**
   * Benchmark decontamination: remove corpus documents sharing at
   * least `minHits` distinct `n`-grams with the benchmark set. The
   * contaminated-id relation is tiny (benchmark collisions), so the
   * anti-join broadcasts; the corpus stays unshuffled end to end.
   */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String,
                    n: Int = 13, minHits: Long = 1L): DataFrame = {
    val bad = contaminationHits(corpus, benchmark, idCol, textCol, n)
      .filter(col("n_hits") >= minHits)
      .select(idCol)
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /**
   * Corpus-level exact LINE deduplication (the C4 recipe: a duplicated
   * line — boilerplate headers, navigation, license blocks — is kept
   * only at its FIRST occurrence corpus-wide and removed everywhere
   * else). First = smallest (`idCol`, line position). Documents whose
   * every line is removed disappear from the output (empty documents
   * are useless downstream); line order within a document is preserved.
   * Returns (`idCol`, `textCol`) with the deduplicated text.
   *
   * Scale posture: one shuffle partitioned by the LINE (not the
   * document) for the global first-occurrence rank, then one shuffle
   * back on the document id for reassembly. Line-key skew (millions of
   * copies of one boilerplate line) lands in AQE's skew handling; the
   * reassembly side is bounded by document size.
   */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 sep: String = "\n"): DataFrame = {
    // the exploded relation carries ONLY idCol + scratch, so scratch
    // names need only avoid the id column
    def fresh(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
        .find(_ != idCol).get
    val (posC, lineC, rnC) =
      (fresh("__graft_dl_pos"), fresh("__graft_dl_line"), fresh("__graft_dl_rn"))
    val lines = explodeLines(df, idCol, textCol, sep, posC, lineC)
    val w = Window.partitionBy(lineC).orderBy(col(idCol), col(posC))
    lines.withColumn(rnC, row_number().over(w))
      .filter(col(rnC) === 1)
      .groupBy(idCol)
      .agg(reassembleLines(col(posC), col(lineC), sep).as(textCol))
  }

  /** (id, position, line) relation for a line-oriented corpus pass —
   *  shared by [[dedupLines]] and [[removeBoilerplateLines]]. */
  private def explodeLines(df: DataFrame, idCol: String, textCol: String,
                           sep: String, posC: String, lineC: String): DataFrame =
    df.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .withColumnsRenamed(Map("pos" -> posC, "col" -> lineC))

  /** Order-restoring aggregation: `value`s sorted by `pos`, re-joined
   *  with `sep`. Shared by the line operators and
   *  [[Sampling.packSequences]] (the struct's field names are
   *  internal to the aggregate — no column-collision surface). */
  private[llm] def reassembleLines(pos: Column, value: Column,
                                   sep: String): Column =
    array_join(
      transform(array_sort(collect_list(struct(pos.as("p"), value.as("v")))),
        s => s.getField("v")), sep)

  /**
   * Corpus-frequency BOILERPLATE removal: delete every line that
   * appears in at least `minDocFrac` of the corpus's documents —
   * footers, navigation, cookie banners, license blocks. The
   * complement of [[dedupLines]]: that keeps a duplicated line's first
   * occurrence; this removes ubiquitous lines from EVERY document
   * (including the first), because a line carried by a third of a
   * crawl is template noise, not content. Line order is preserved;
   * documents keep their row (an all-boilerplate document becomes
   * `""`, a null text stays null).
   *
   * `idCol` must uniquely identify rows (the standard corpus
   * contract — duplicate ids would merge their line sets during
   * reassembly); a null id is a key like any other (the rebuild joins
   * null-safely, never wiping a null-id document's text).
   *
   * Scale posture: one distinct+aggregate shuffled on the LINE for
   * document frequencies (line skew lands in AQE); the frequent-line
   * relation holds at most `Σ lines-per-template / minDocFrac` rows —
   * small for real template noise, and AQE broadcasts it into the
   * anti-join whenever it fits — then one shuffle back on the id for
   * reassembly. One driver-side count fixes the threshold.
   */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             minDocFrac: Double,
                             sep: String = "\n"): DataFrame = {
    require(minDocFrac > 0 && minDocFrac <= 1,
      s"minDocFrac out of (0, 1]: $minDocFrac")
    val n = df.filter(col(textCol).isNotNull).count()
    if (n == 0) return df
    val thresh = math.ceil(minDocFrac * n).toLong
    import graft.core.Engine.freshColumn
    val (posC, lineC, t2C) = (freshColumn(df, "__graft_bp_pos"),
      freshColumn(df, "__graft_bp_line"), freshColumn(df, "__graft_bp_t2"))
    val lines = explodeLines(df.filter(col(textCol).isNotNull),
      idCol, textCol, sep, posC, lineC)
    val frequent = lines.select(col(lineC), col(idCol)).distinct()
      .groupBy(lineC).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= thresh).select(lineC)
    val rebuilt = lines.join(frequent, Seq(lineC), "left_anti")
      .groupBy(idCol)
      .agg(reassembleLines(col(posC), col(lineC), sep).as(t2C))
    // null-SAFE rejoin: a null id must find its rebuilt text too
    val rKey = freshColumn(df, "__graft_bp_id")
    val r = rebuilt.withColumnRenamed(idCol, rKey)
    df.join(r, df(idCol) <=> r(rKey), "left")
      .withColumn(textCol,
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(coalesce(col(t2C), lit(""))))
      .drop(t2C, rKey)
  }

  /**
   * Incremental ingest dedup: corpus rows whose CONTENT (md5 of
   * `textCol`) was never seen in `seen` — dedup a new crawl against an
   * existing corpus without re-clustering the old data. The seen side
   * collapses to DISTINCT 32-char digests (16 bytes/doc of payload)
   * before the anti-join, so AQE broadcasts it whenever the seen-hash
   * relation fits an executor; otherwise both sides hash-partition on
   * the digest — the minimal shuffle for an exact containment check.
   * `seen` needs only the text column.
   */
  /**
   * Winnowed document fingerprints (Schleimer/Wilkerson/Aiken, the
   * MOSS algorithm): hash every `k`-token gram, slide a window of `w`
   * consecutive gram hashes, keep each window's MINIMUM — the
   * guarantee is that any shared token run of length ≥ `w + k − 1`
   * leaves at least one COMMON selected fingerprint in both
   * documents, at ~2/(w+1) the density of the full gram set. This is
   * the scalable stand-in for suffix-array exact-substring dedup: it
   * detects copied SPANS (quotes, mirrored paragraphs, licence
   * blocks) that bag-of-shingles similarity dilutes away in long
   * documents.
   *
   * Determinism: the gram hash is the 16-hex-char md5 prefix (64-bit
   * space; binary string compare ≡ unsigned numeric compare in any
   * engine), and the window winner is the minimum of
   * `hash16 ':' zero-padded-position` — equal hashes inside one
   * window resolve to the SMALLEST position, so selection is a pure
   * function of the text. Tail positions yield partial windows
   * (cheaper than a length gate, identically computed by the oracle;
   * adds ≤ w−1 extra fingerprints per doc).
   *
   * Output: distinct (`idCol`, fp). Scale: grams never leave their
   * document (the winnow window partitions by doc), one doc-keyed
   * shuffle for the window, one (doc, fp) distinct.
   */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowFingerprints: k=$k, w=$w must be >= 1")
    val toks = TextAnalysis.tokens(col(textCol))
    // spread (r19): tokenize + k-gram explode + md5 are scan-stage
    // work — single-task over a one-split input (guide §2.5)
    val grams = graft.core.Par.spread( // project-then-spread (§2.3)
        df.select(col(idCol), col(textCol)).filter(size(toks) >= k))
      .select(col(idCol), posexplode(TextAnalysis.ngramJoin(toks, k))
        .as(Seq("__pos", "__g")))
    val key = concat(
      substring(md5(col("__g").cast("binary")), 1, 16), lit(":"),
      lpad(col("__pos").cast("string"), 8, "0"))
    val win = Window.partitionBy(idCol).orderBy("__pos")
      .rowsBetween(Window.currentRow, w - 1)
    grams.select(col(idCol), min(key).over(win).as("__wk"))
      .select(col(idCol), substring(col("__wk"), 1, 16).as("fp"))
      .distinct()
  }

  /**
   * Copied-span suspect pairs via [[winnowFingerprints]]: documents
   * sharing ≥ `minShared` winnowed fingerprints. `maxDocFreq` drops
   * fingerprints present in more than that many documents BEFORE the
   * pair join — corpus-wide boilerplate (headers, licence lines)
   * would otherwise fan out quadratically exactly like a hot minhash
   * bucket; a fingerprint shared by half the corpus identifies
   * boilerplate, not copying. Output: (id1, id2, n_shared), id1 < id2.
   *
   * Scale: pairs are emitted per-fingerprint from a sorted in-group
   * doc array (bucketed, never all-pairs), each group ≤ `maxDocFreq`
   * docs → ≤ `maxDocFreq²/2` pairs; the pair counts aggregate
   * map-side. See the body comment for why the cap is a window count
   * on the one fp shuffle, not a set-join.
   */
  def copiedSpanPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 5, w: Int = 4, minShared: Int = 2,
                      maxDocFreq: Int = 50): DataFrame = {
    // ONE shuffle by fingerprint carries everything: the frequency
    // cap is a count over the fp window (no set-join — an earlier
    // join-with-kept-set formulation let AQE broadcast a corpus-sized
    // fingerprint set and blow spark.driver.maxResultSize at 64×
    // scale; a hot boilerplate fp is one spilled window partition
    // here, never a collected array), and the surviving groups are
    // ≤ maxDocFreq docs, so the pair list is emitted per-row from a
    // sorted in-group array — the groupBy after the window reuses the
    // fp partitioning, no second exchange of the corpus relation.
    val fp = winnowFingerprints(df, idCol, textCol, k, w)
    val wf = Window.partitionBy("fp")
    fp.withColumn("__df", count(lit(1)).over(wf))
      .filter(col("__df") <= maxDocFreq)
      .groupBy("fp")
      .agg(sort_array(collect_list(col(idCol))).as("__ids"))
      .filter(size(col("__ids")) >= 2)
      .select(explode(expr(
        "flatten(transform(__ids, (x, i) -> " +
          "transform(slice(__ids, i + 2, size(__ids) - i - 1), " +
          "y -> named_struct('id1', x, 'id2', y))))")).as("__p"))
      .select(col("__p.id1").as("id1"), col("__p.id2").as("id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  def newAgainstSeen(corpus: DataFrame, seen: DataFrame,
                     textCol: String): DataFrame = {
    val seenH = seen.select(md5(col(textCol).cast("binary")).as("__h")).distinct()
    corpus.join(seenH,
        md5(col(textCol).cast("binary")) === col("__h"), "left_anti")
  }

  /**
   * SimHash near-dup pairs: documents whose `bits`-wide SimHash
   * signatures differ in at most `maxHamming` bit positions. Returns
   * (id1, id2, hamming), id1 < id2.
   *
   * Candidates come from bit-sampling LSH: the signature splits into
   * `bands` contiguous bit-bands; by pigeonhole, any pair with
   * hamming ≤ bands − 1 collides in at least one band, so with
   * `maxHamming < bands` the banded candidate set is COMPLETE and the
   * verified output equals the naive all-pairs join exactly. Only
   * (band, band-bits) keys shuffle — never documents; a hot band
   * bucket means near-identical docs, which ARE the output.
   */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   bits: Int = 16, maxHamming: Int = 3,
                   bands: Int = 4): DataFrame = {
    require(bits <= 62, s"bits=$bits: at most 62 signature bits " +
      "(SimHash signatures are built by summing 1L << i terms)")
    hammingPairs(simHashSignatures(df, idCol, textCol, bits),
      idCol, "simhash", bits, maxHamming, bands)
  }

  /**
   * Generic banded Hamming near-dup pairs over ANY precomputed
   * `bits`-wide long signature column — the pairing stage shared by
   * text SimHash ([[simHashPairs]]) and image perceptual hashes
   * ([[graft.llm.Multimodal.imageDHash]]). Returns (id1, id2,
   * hamming), id1 < id2, for pairs with hamming ≤ `maxHamming`.
   *
   * Candidates come from bit-sampling LSH: the signature splits into
   * `bands` contiguous bit-bands; by pigeonhole, any pair with
   * hamming ≤ bands − 1 collides in at least one band, so with
   * `maxHamming < bands` the banded candidate set is COMPLETE and the
   * verified output equals the naive all-pairs join exactly. Only
   * (band, band-bits) keys shuffle — never payloads; a hot band
   * bucket means near-identical signatures, which ARE the output.
   * Full 64-bit signatures are fine (bit 63 set → negative long): the
   * unsigned shift + pmod band extraction and `bit_count(xor)` are
   * bit-pattern operations, sign-agnostic. Null signatures (e.g.
   * undecodable images) are excluded.
   */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
                   bits: Int, maxHamming: Int = 3,
                   bands: Int = 4): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits out of long range: $bits")
    require(bits % bands == 0, s"bits=$bits must be divisible by bands=$bands")
    require(maxHamming < bands,
      s"pigeonhole completeness needs maxHamming < bands, got $maxHamming >= $bands")
    val r = bits / bands
    require(r <= 62, s"band width $r too wide for a long band mask")
    val sig = col(sigCol)
    val banded = sigs.filter(sig.isNotNull).select(col(idCol), sig,
      posexplode(array((0 until bands).map(b =>
        pmod(shiftrightunsigned(sig, b * r), lit(1L << r))): _*)))
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__key"))
    val a = banded.select(col(idCol).as("id1"), sig.as("__s1"),
      col("__band"), col("__key"))
    val b = banded.select(col(idCol).as("id2"), sig.as("__s2"),
      col("__band"), col("__key"))
    a.join(b, Seq("__band", "__key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("__s1").bitwiseXOR(col("__s2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * UNBLOCKED semantic near-dup pairs: the corpus is first assigned to
   * k-means clusters (the IVF coarse quantizer — [[Similarity.ivfCentroids]]
   * trains them; the assignment is a pure projection through the
   * [[graft.functions.CentroidRanks]] kernel), and candidate pairs are
   * generated per CLUSTER — no caller-supplied blocking column needed,
   * and cluster granularity (nlist) directly controls the per-block
   * pair budget. The standard semantic-dedup recipe (cluster, then
   * pairwise within cluster). Near-dups straddling a cluster boundary
   * are missed — the recall trade every partitioned near-dup scheme
   * makes; raise nlist for smaller blocks or lower it for recall.
   */
  def semanticNearDup(df: DataFrame, idCol: String, vecCol: String,
                      centroids: Seq[Array[Double]], threshold: Double,
                      saltFactor: Int = 16): DataFrame = {
    val assigned = df.select(col(idCol), col(vecCol))
      .withColumn("__cl", element_at(
        graft.functions.VectorExpressions.centroidRanks(
          col(vecCol).cast("array<double>"), centroids), 1))
    embeddingNearDup(assigned, idCol, vecCol, Seq("__cl"), threshold, saltFactor)
  }

  /**
   * Blocked embedding-cosine near-dup pairs: pairs sharing `blockCols`
   * with cosine ≥ `threshold`. For unblocked corpora use
   * [[semanticNearDup]] (k-means clusters as automatic blocks) or
   * [[Similarity.lshBuckets]] to generate the blocking column first.
   *
   * Hot-block budget: a degenerate block holding B documents (a null
   * language, one giant k-means cluster) would otherwise cost B²
   * comparisons — salting spreads that across tasks but does not
   * shrink it. Blocks larger than `maxBlockSize` are deterministically
   * SPLIT into ⌈B/maxBlockSize⌉ hash-assigned sub-blocks and pairs
   * are generated within sub-blocks only, so every document is
   * compared against at most ~maxBlockSize peers (per-block work
   * B·maxBlockSize, linear in B). The documented recall trade: a pair
   * straddling two sub-blocks of an oversized block is missed —
   * expected in-block recall ≈ 1/⌈B/maxBlockSize⌉; the analogue of
   * [[minHashCandidates]]'s bucket cap. Blocks at or under the cap
   * are untouched (single sub-block — output identical).
   */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       blockCols: Seq[String], threshold: Double,
                       saltFactor: Int = 16, maxBlockSize: Int = 100000): DataFrame = {
    // Norms precomputed per ROW (once), not per pair: the join boundary
    // keeps them out of the per-pair projection, so each pair costs one
    // dot product. dot/(n1*n2) is bit-identical to the inline cosine.
    // The block-size window rides the same partitioning the join needs.
    val v = df.select(blockCols.map(col) :+ col(idCol) :+ col(vecCol).cast("array<double>").as("__v"): _*)
      .withColumn("__nm", Similarity.norm(col("__v")))
      .withColumn("__bsz",
        count(lit(1)).over(Window.partitionBy(blockCols.map(col): _*)))
      .withColumn("__sub", pmod(hash(col(idCol)),
        greatest(ceil(col("__bsz").cast("double") / maxBlockSize).cast("int"), lit(1))))
    val a = v.select(blockCols.map(col) :+ col("__sub") :+ col(idCol).as("id1") :+
      col("__v").as("__v1") :+ col("__nm").as("__nm1"): _*)
      // hash(id, 1), NOT hash(id): __sub above is pmod(hash(id), nsub),
      // and deriving the salt from the SAME hash correlates them — at
      // nsub == saltFactor every row of sub-block s would get salt s,
      // collapsing a sub-block's whole cross product onto one task.
      // The extra seed column decorrelates the two assignments.
      .withColumn("__salt", pmod(hash(col("id1"), lit(1)), lit(saltFactor)))
    val b = v.select(blockCols.map(col) :+ col("__sub") :+ col(idCol).as("id2") :+
      col("__v").as("__v2") :+ col("__nm").as("__nm2"): _*)
      .withColumn("__salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    // Salted block join (hot block keys): cosine evaluates in the join
    // output stage across |blocks|·saltFactor tasks; no pair re-shuffle.
    a.join(b, blockCols ++ Seq("__sub", "__salt"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        Similarity.cosPre(col("__v1"), col("__v2"),
          col("__nm1"), col("__nm2")).as("__cos"))
      .filter(col("__cos") >= threshold)
      .select("id1", "id2")
  }

  /**
   * Exact duplicated-SPAN detection (the Lee et al. 2021
   * "Deduplicating Training Data Makes Language Models Better"
   * operation, arXiv:2107.06499): find every maximal token range that
   * participates in a ≥`k`-token sequence occurring at least
   * `minCount` times in the corpus — the spans a curation pipeline
   * CUTS (as opposed to whole-document near-dup, [[minHashDedup]],
   * and sampled copied-span sketching, `winnowing`/q121). Where the
   * paper builds a monolithic suffix array, the same answer
   * distributes as a k-gram self-grouping:
   *
   *  1. tokenize (whitespace, trim) with in-doc positions;
   *  2. build every k-token gram ONCE per position via `lead()` over
   *     the (doc, pos) window — no per-gram re-scan, no explode×k
   *     blowup; grams join on their token text (exact, not hashed —
   *     oracle-replayable and collision-free);
   *  3. keep grams whose corpus occurrence count ≥ `minCount`
   *     (a duplicated k-gram ⇔ it lies inside some ≥k-token repeat);
   *  4. per doc, merge the hit positions' [pos, pos+k) ranges into
   *     maximal spans with the classic islands pass (running
   *     `max(end) OVER (… ROWS UNBOUNDED PRECEDING TO 1 PRECEDING)`;
   *     a gram starting at-or-before that running end extends the
   *     island — end-exclusive, so touching ranges merge too).
   *
   * Output: (`idCol`, span_start, span_end, span_tokens) in TOKEN
   * indices, end-exclusive — the caller slices or masks.
   *
   * Scale posture: the only corpus-wide shuffle is the gram groupBy
   * (map-side partial counts collapse same-partition repeats); the
   * windows in 2 and 4 are doc-keyed. The gram relation is
   * corpus_tokens rows × k tokens of payload — the k× payload is the
   * price of exactness without a trusted hash; for a
   * hash-probabilistic variant at extreme scale, group on
   * `xxhash64(gram)` instead (`2^-64` false-merge risk, not
   * oracle-replayable, same plan shape). Doc-length skew is the
   * groupBy's skew (AQE); islands are per-doc and bounded by doc
   * length.
   */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int, minCount: Int = 2,
                     hashGrams: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    import org.apache.spark.sql.expressions.Window
    // spread (r19): the token explode is scan-stage work — single-task
    // over a one-split input (guide §2.5; no-op when already split)
    val toks = graft.core.Par.spread( // project-then-spread (§2.3)
        df.select(col(idCol), col(textCol)))
      .select(col(idCol), posexplode(
        split(trim(coalesce(col(textCol), lit(""))), "\\s+"))
        .as(Seq("__pos", "__term")))
      .filter(col("__term") =!= "")
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    // gram at position p = tokens p … p+k-1, space-joined: a space
    // cannot occur inside a whitespace-split token, so gram equality
    // ⇔ token-list equality (a non-whitespace joiner could itself
    // appear inside a token and alias distinct grams). lead(k-1) null
    // ⇔ the gram would run off the doc end (concat_ws alone would
    // silently emit a SHORT tail gram, since it skips nulls).
    val gram = concat_ws(" ",
      col("__term") +: (1 until k).map(i => lead(col("__term"), i).over(w)): _*)
    // gram and guard are computed in the SAME projection BEFORE the
    // tail filter: filtering first would re-evaluate the leads over
    // the already-truncated frame, silently building short boundary
    // grams (concat_ws skips the null leads) that alias real ones
    val grams = toks
      .withColumn("__last", lead(col("__term"), k - 1).over(w))
      .withColumn("__gram", gram)
      .filter(col("__last").isNotNull)
      .select(col(idCol), col("__pos"), col("__gram"))
    // corpus occurrence count as a PARTITION-count window rather than
    // a groupBy + self-join: one gram-keyed exchange instead of two
    // (the join formulation re-shuffled the gram relation for the
    // probe side; plan-audited away). hashGrams trades the k-token
    // string shuffle key for 8 bytes of xxhash64 — the 256x probe put
    // the string shuffle at the spill edge; cost is a 2^-64 per-pair
    // false-merge chance and the loss of external-oracle replay
    // (DuckDB has no xxhash64), so the exact form stays the default
    // and the gated one.
    val grouping =
      if (hashGrams) xxhash64(col("__gram")) else col("__gram")
    val wg = Window.partitionBy(grouping)
    val hits = grams
      .withColumn("__n", count(lit(1)).over(wg))
      .filter(col("__n") >= minCount)
      .select(col(idCol), col("__pos").as("__s"),
        (col("__pos") + k).as("__e"))
    val ws = Window.partitionBy(col(idCol)).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wr = Window.partitionBy(col(idCol)).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // __s is unique per doc (one gram per position), so the ROWS
    // frames are deterministic despite being order-sensitive in general
    hits
      .withColumn("__newisl",
        when(col("__s") > coalesce(max(col("__e")).over(ws), lit(-1L)), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__newisl")).over(wr))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__s")).as("span_start"), max(col("__e")).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start"))
      .drop("__isl")
  }

  /**
   * Cross-source overlap matrix: for every unordered pair of sources,
   * how many distinct `keyCol` values they share — the dataset-card
   * contamination/overlap report (key = content hash for exact
   * overlap, hashed shingles for n-gram-level overlap, minhash band
   * for near-dup-level). The pairwise generalization of
   * [[contaminationHits]]'s one-benchmark check.
   *
   * One key shuffle: the (source, key) relation is deduplicated, then
   * self-joined on the key and reduced to pair counts. Per-key pair
   * emission is |sources carrying the key|² — bounded by the CATALOG
   * size squared (sources are enum-small), never by corpus size; a
   * ubiquitous key (stopword gram) emits at most that bound. Keys are
   * whatever the caller derived — pass hashes, not raw text, so the
   * shuffle carries 8 bytes per key.
   */
  def overlapMatrix(df: DataFrame, sourceCol: String,
                    keyCol: String): DataFrame = {
    val d = df.select(col(sourceCol), col(keyCol)).distinct()
    val a = d.select(col(sourceCol).as("source_a"), col(keyCol))
    val b = d.select(col(sourceCol).as("source_b"), col(keyCol))
    a.join(b, Seq(keyCol))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared"))
  }
}
