package graft.agg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/**
 * Mergeable distinct-count sketches (Apache DataSketches HLL, the
 * `hll_sketch_agg` family Spark ships natively) — the pre-aggregation
 * shape exact `count(distinct)` cannot take: distinct counts do NOT
 * roll up (Σ per-day distincts ≠ monthly distinct), so a 100 TB
 * pipeline either re-scans raw data for every grain of a distinct-
 * count cube, or materializes SKETCHES once at the finest grain and
 * re-merges them upward — a byte-column union, no raw-data re-scan.
 * This module is that workflow:
 *
 *   sketches(raw, day grain)  →  tiny sketch table, persisted
 *   rollup(sketches, month)   →  merged sketches + estimates,
 *                                 raw data never touched again
 *
 * Estimates are NOT bit-stable: DataSketches HLL merge results shift
 * by a register or two with merge ORDER (sparse→dense promotion
 * depends on the partial layout — observed 1997 vs 1999 on the same
 * 2000 values under different partitionings), and the arithmetic is
 * not portable across engines at all (DuckDB's HLL differs). So the
 * gate asserts the ACCURACY CONTRACT against exact distinct counts
 * (|est − exact| ≤ tol·exact, with the exact side oracle-replayed)
 * rather than hash-matching the estimate itself — the q135 pattern:
 * engine-dependent value, engine-independent claim. `hll_sketch_
 * estimate` returns a rounded BIGINT.
 */
object Sketches {

  /** Per-group HLL sketches over `valueCol` at the finest grain you
   *  will ever query — one raw-data pass, output rows are
   *  (groupCols…, sketch binary). `lgK = 12` ⇒ ~1.6% RSE, 4 KB max
   *  per sketch. */
  def sketches(df: DataFrame, groupCols: Seq[String], valueCol: String,
               lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** Roll sketches UP to a coarser grain (a subset of the sketch
   *  table's group columns): merges the binary sketches — never the
   *  raw data — and surfaces the distinct-count estimate. */
  def rollup(sketchDf: DataFrame, groupCols: Seq[String]): DataFrame =
    sketchDf.groupBy(groupCols.map(col): _*)
      .agg(hll_union_agg(col("sketch")).as("sketch"))
      .withColumn("estimate", hll_sketch_estimate(col("sketch")))

  /**
   * Per-group Theta sketches over `valueCol` — the SET-ALGEBRA
   * sketch: unlike HLL (union-only), Theta supports intersection and
   * difference, so "users in A AND B" / "in A but not B" computes
   * from the tiny sketch table without re-scanning raw data — the
   * audience-overlap workflow at 100 TB. Below the sketch's nominal
   * entries (4096 default) Theta runs in exact mode.
   */
  def thetaSketches(df: DataFrame, groupCols: Seq[String],
                    valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(theta_sketch_agg(col(valueCol)).as("sketch"))

  /**
   * Pairwise overlap matrix from a [[thetaSketches]] table: for every
   * unordered group pair, the estimated intersection and union
   * distinct counts. The |groups|² pair join runs on the sketch
   * relation (bytes per group), never the raw data; like all
   * DataSketches estimates these are engine arithmetic — gate the
   * ACCURACY CONTRACT, not the value (the q146 pattern).
   */
  def thetaOverlap(sketchDf: DataFrame, groupCol: String): DataFrame = {
    val a = sketchDf.select(col(groupCol).as("g1"), col("sketch").as("__s1"))
    val b = sketchDf.select(col(groupCol).as("g2"), col("sketch").as("__s2"))
    a.join(b, col("g1") < col("g2"))
      .select(col("g1"), col("g2"),
        theta_sketch_estimate(theta_intersection(col("__s1"), col("__s2")))
          .as("est_overlap"),
        theta_sketch_estimate(theta_union(col("__s1"), col("__s2")))
          .as("est_union"))
  }

  /**
   * Per-group KLL quantile sketches — the MERGEABLE quantile
   * workflow ([[sketches]]' distinct-count logic applied to
   * percentiles): materialize sketches once at the finest grain, roll
   * them up by sketch merge, query any quantile at any grain without
   * touching raw data again. `k = 200` ⇒ ~1.65% normalized rank
   * error at 99% confidence.
   */
  def kllSketches(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  k: Int = 200): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(kll_sketch_agg_double(col(valueCol).cast("double"), k)
        .as("sketch"))

  /** Merge KLL sketches up to a coarser grain and surface quantile
   *  estimates at `ps` — raw data never re-scanned. Spark exposes KLL
   *  merge only as a two-sketch scalar (no merge AGGREGATE like
   *  `hll_union_agg`), so the group's sketches collect into one array
   *  and fold pairwise — bounded by the grain fan-in (days per month,
   *  shards per table), bytes each, never data-sized. */
  def kllRollup(sketchDf: DataFrame, groupCols: Seq[String],
                ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "kllRollup needs at least one quantile")
    val merged = sketchDf.groupBy(groupCols.map(col): _*)
      .agg(collect_list(col("sketch")).as("__sks"))
      .withColumn("sketch", aggregate(
        slice(col("__sks"), lit(2), greatest(size(col("__sks")) - 1, lit(0))),
        element_at(col("__sks"), 1),
        (acc, x) => kll_sketch_merge_double(acc, x)))
      .drop("__sks")
    // the rank argument must be FOLDABLE — one static call per p
    merged.select(groupCols.map(col) :+
      posexplode(arrays_zip(
        array(ps.map(lit): _*).as("p"),
        array(ps.map(p =>
          kll_sketch_get_quantile_double(col("sketch"), lit(p))): _*)
          .as("edge"))): _*)
      .select(groupCols.map(col) :+ col("col.p").as("p") :+
        col("col.edge").as("edge"): _*)
  }

  /**
   * Rolling distinct counts from a [[sketches]] table: for every
   * (group, period), the estimated distinct count over the TRAILING
   * `window` periods (current inclusive) — "7-day rolling uniques",
   * computed entirely by sketch union over the tiny sketch relation.
   * The raw data was scanned once when the daily sketches
   * materialized; every window after that is a bytes-column fold. An
   * exact rolling distinct would re-scan `window` days of raw data
   * PER (group, period) — the whole reason mergeable sketches exist.
   *
   * `sketchDf` must carry one sketch per (groupCols…, `orderCol`).
   * Missing periods simply contribute nothing (the frame is
   * row-based over PRESENT periods — densify upstream if calendar
   * frames matter). Estimate accuracy contract as [[rollup]].
   */
  def rollingDistinct(sketchDf: DataFrame, groupCols: Seq[String],
                      orderCol: String, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(orderCol))
      .rowsBetween(-(window - 1), Window.currentRow)
    sketchDf
      .withColumn("__sks", collect_list(col("sketch")).over(w))
      .withColumn("estimate", hll_sketch_estimate(aggregate(
        slice(col("__sks"), lit(2), greatest(size(col("__sks")) - 1, lit(0))),
        element_at(col("__sks"), 1),
        (acc, x) => hll_union(acc, x))))
      .drop("__sks")
  }

  /**
   * EXACT heavy hitters without a full-vocabulary shuffle: every item
   * whose frequency is ≥ `ceil(fraction · N)`, found by per-partition
   * Misra-Gries candidate generation + an exact recount of the
   * candidates only. The point at corpus scale: a naive
   * `groupBy(item) HAVING count ≥ t` shuffles the ENTIRE item
   * vocabulary (trillions of (token, 1) partials for a 100 TB text
   * corpus) to keep a handful of rows; here the shuffle carries at
   * most `partitions · k` candidate keys plus their exact counts.
   *
   * Why the answer is exact: an item with global count > N/(k+1)
   * must exceed N_p/(k+1) in at least one partition (pigeonhole), and
   * Misra-Gries with k counters over a partition of N_p items keeps
   * every key whose count exceeds N_p/(k+1). So the union of
   * per-partition MG keys is a SUPERSET of every item at or above the
   * threshold whenever `fraction > 1/(k+1)` (enforced), and the
   * recount pass — filtered to the broadcast candidate set before its
   * groupBy — returns exact counts to threshold against. MG's
   * per-partition output depends on encounter order, but any superset
   * yields the same final answer: candidates are a recall set, the
   * recount is the truth.
   *
   * Output: (item, n_item) with `n_item ≥ ceil(fraction · N)`, the
   * ceil in DECIMAL (a double `0.07·100 → 7.000…01` would overshoot
   * the threshold by one).
   *
   * Scale posture: two scans of `df` (candidate pass, recount pass —
   * cache upstream if the input is itself expensive), zero
   * vocabulary-sized shuffles, candidate set ≤ partitions · k rows
   * broadcast back. `N` is one `count()` action — a scalar, not a
   * collect.
   */
  def heavyHitters(df: DataFrame, itemCol: String, fraction: Double,
                   k: Int): DataFrame = {
    require(fraction > 0 && fraction < 1, s"fraction in (0,1), got $fraction")
    require(k + 1 > 1 / fraction,
      s"need k + 1 > 1/fraction for the Misra-Gries recall guarantee " +
        s"(k=$k, fraction=$fraction)")
    val items = df.filter(col(itemCol).isNotNull)
      .select(col(itemCol).cast("string").as("item"))
    val n = items.count()
    val thr = (BigDecimal(fraction.toString) * BigDecimal(n))
      .setScale(0, BigDecimal.RoundingMode.CEILING).toLong
    import items.sparkSession.implicits._
    val candidates = items.as[String].mapPartitions { it =>
      val counters = mutable.HashMap.empty[String, Long]
      it.foreach(misraGries(counters, k, _))
      counters.keysIterator
    }.toDF("item").distinct()
    items.join(broadcast(candidates), Seq("item"), "leftsemi")
      .groupBy("item").agg(count(lit(1)).as("n_item"))
      .filter(col("n_item") >= thr)
  }

  /** One Misra-Gries step over at most `k` counters: count `item` if
   *  it is tracked, track it if a counter is free, else decrement every
   *  counter and drop the ones that reach zero. */
  private[graft] def misraGries(counters: mutable.Map[String, Long], k: Int,
                                item: String): Unit =
    if (counters.contains(item)) counters(item) += 1L
    else if (counters.size < k) counters(item) = 1L
    else counters.filterInPlace((_, v) => v > 1L)
      .mapValuesInPlace((_, v) => v - 1L)
}
