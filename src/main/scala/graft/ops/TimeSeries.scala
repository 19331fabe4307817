package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.agg.Moments
import graft.core.Snap.{r9, unscaled}

/**
 * Time-series reshaping over event streams — the batch-side
 * completion of the reference's time handling (goetl parses and
 * buckets timestamps, `transformers/time.go`; streaming windows live
 * in [[graft.streaming.Streaming]]). Two operators ETL users reach
 * for constantly and neither engine ships as a single call:
 *
 *  - [[resampleFill]]: regularize an irregular series to a fixed
 *    grid and forward-fill the gaps (dashboard feeds, feature
 *    matrices for sequence models).
 *  - [[funnel]]: ordered multi-step conversion attribution (the
 *    view→click→purchase question) in ONE pass over the events.
 *
 * Both are pure DataFrame plans — no driver iteration, no UDFs — so
 * Catalyst sees through them (pushdown, AQE) and every step is
 * whole-stage-codegen-able.
 */
object TimeSeries {

  /**
   * The fold-family null contract: a row with a null key, ts, tie or
   * value has no place in the per-key (ts, tie) order, so it is
   * dropped. Ordering it instead would make the result
   * engine-dependent (Spark sorts a null tie FIRST in an ascending
   * window, ANSI engines sort it LAST), and a folded value of nothing
   * is not 0. The keys, ts and tie are always required; `notNull`
   * names the value columns an operator folds by. The sorted streaming
   * recurrences ([[graft.streaming.Streaming]]) apply this same
   * filter, so batch ≡ stream holds on null-bearing feeds too.
   */
  private[graft] def positioned(df: DataFrame, keys: Seq[String],
                                tsCol: String, tieCol: String,
                                notNull: Seq[String]): DataFrame =
    df.filter((keys ++ Seq(tsCol, tieCol) ++ notNull)
      .map(col(_).isNotNull).reduce(_ && _))

  /**
   * Each key's series as one list for the array folds: the
   * [[positioned]] rows grouped by `keys`, with `__n` (the key's row count) and `__l`,
   * the (t, i)-sorted array of `struct(tsCol AS t, tieCol AS i,
   * fields…)`. The folds walk `__l` with `aggregate`, which is how a
   * recursive smoother runs without a UDF. The array is bounded by
   * the KEY's event count, so this serves per-entity series (a
   * user's events, a device's readings), not one global
   * million-point series: for unbounded streams keyed state carries
   * the same recurrence in O(1) ([[graft.streaming.Streaming]]).
   */
  private[graft] def sortedSeries(df: DataFrame, keys: Seq[String],
                                  tsCol: String, tieCol: String,
                                  notNull: Seq[String],
                                  fields: Column*): DataFrame =
    positioned(df, keys, tsCol, tieCol, notNull)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"), sort_array(collect_list(struct(
        (col(tsCol).as("t") +: col(tieCol).as("i") +: fields): _*)))
        .as("__l"))

  /** The EMA recurrence over an array of doubles, one smoothed value
   *  per element: `e₀ = x₀`, `eᵢ = eᵢ₋₁ + α·(xᵢ − eᵢ₋₁)`, in that
   *  association order (the one an ANSI engine's recursive walk
   *  replays bit for bit). */
  private def emaFold(src: Column, alpha: Column): Column =
    aggregate(src, array().cast("array<double>"),
      (acc, x) => when(size(acc) === 0, array(x))
        .otherwise(concat(acc, array(
          element_at(acc, -1) + alpha * (x - element_at(acc, -1))))))

  /** A [[sortedSeries]] list and the per-element `arrays` folded from
   *  it, exploded back to one row per event: keys…, `tieCol`,
   *  `tsCol`, `valueCol` (the list's `v`), then `outs`, which read
   *  the arrays as `col.<name>`. */
  private def perEvent(folded: DataFrame, keys: Seq[String], tsCol: String,
                       tieCol: String, valueCol: String,
                       arrays: Seq[String], outs: Column*): DataFrame =
    folded
      .select(keys.map(col) :+
        posexplode(arrays_zip((col("__l") +: arrays.map(col)): _*)): _*)
      .select(keys.map(col) ++ Seq(
        col("col.__l.i").as(tieCol), col("col.__l.t").as(tsCol),
        col("col.__l.v").as(valueCol)) ++ outs: _*)

  /** Fixed-width `date_trunc` units in seconds (months and years vary
   *  in length and have no entry). */
  private val unitSeconds =
    Map("minute" -> 60L, "hour" -> 3600L, "day" -> 86400L, "week" -> 604800L)

  private def fixedUnitMicros(op: String, unit: String): Long =
    unitSeconds.getOrElse(unit.toLowerCase, throw new IllegalArgumentException(
      s"$op needs a fixed-width unit (minute/hour/day/week), got " +
        unit.toLowerCase)) * 1000000L

  /**
   * Resample an irregular per-key series onto a dense `date_trunc`
   * grid and forward-fill missing buckets from the last observed
   * value.
   *
   * Steps (all one logical plan):
   *  1. bucket rows to `date_trunc(unit, ts)` and reduce each bucket
   *     with an ORDER-INDEPENDENT aggregate (`max` by default —
   *     sum/avg of doubles would be partition-order-sensitive and
   *     not reproducible across engines);
   *  2. build each key's dense bucket axis with
   *     `sequence(min_bucket, max_bucket, interval 1 unit)` —
   *     computed per key on the executors, never on the driver;
   *  3. left-join observations onto the axis and forward-fill with
   *     `last(value, ignoreNulls) OVER (PARTITION BY key ORDER BY
   *     bucket)` (default RANGE frame: tie-safe, though buckets are
   *     unique per key by construction).
   *
   * Output: keys…, `bucket`, `v` (observed, null in gaps), `v_fill`
   * (forward-filled; null only before a key's first observation).
   *
   * Scale posture: everything shuffles ONCE on the key columns —
   * the bucket agg, the span agg, the axis join and the fill window
   * all share that partitioning, so Catalyst reuses the exchange.
   * Per-key axis length is span/unit, bounded by retention ×
   * granularity, not by event count; a key observed over 1 year at
   * hourly grid explodes to 8.8k rows regardless of how many billions
   * of raw events it had. Skewed keys are no worse than the groupBy
   * itself (AQE skew handling applies).
   *
   * @param unit a `date_trunc` unit (`"hour"`, `"day"`, `"minute"`, …)
   */
  def resampleFill(df: DataFrame, keys: Seq[String], tsCol: String,
                   valueCol: String, unit: String,
                   agg: Column => Column = max): DataFrame = {
    require(keys.nonEmpty, "resampleFill needs at least one key column")
    val kc = keys.map(col)
    // the bucket aggregate feeds TWO consumers (the axis derivation
    // and the observation join); without materialization each branch
    // re-scans and re-aggregates the raw events (2× the corpus-sized
    // shuffle — exchange reuse does not fire across the AQE stages).
    // Lazy localCheckpoint = compute-once, same trade as bm25TopK.
    val obs = df.filter(col(tsCol).isNotNull)
      .groupBy(kc :+ date_trunc(unit, col(tsCol)).as("bucket"): _*)
      .agg(agg(col(valueCol)).as("v"))
      .localCheckpoint(false)
    val axis = obs.groupBy(kc: _*)
      .agg(min(col("bucket")).as("__b0"), max(col("bucket")).as("__b1"))
      .select(kc :+ explode(sequence(col("__b0"), col("__b1"),
        expr(s"interval 1 $unit"))).as("bucket"): _*)
    val w = Window.partitionBy(kc: _*).orderBy(col("bucket"))
    axis.join(obs, keys :+ "bucket", "left")
      .withColumn("v_fill", last(col("v"), ignoreNulls = true).over(w))
  }

  /**
   * Resample to a regular grid with LINEAR interpolation —
   * [[resampleFill]]'s numeric sibling (forward-fill repeats the last
   * reading; sensors, prices and gauges usually want the straight
   * line between the surrounding observations instead). Gap buckets
   * get `v̂ = vₚ + (vₙ − vₚ)·(t − tₚ)/(tₙ − tₚ)`; observed buckets
   * keep their exact value; buckets before the first / after the
   * last observation stay null (extrapolation is a lie).
   *
   * The time fractions are computed on the GRID INDEX (row number on
   * the per-key axis), not on epoch arithmetic: the axis is regular
   * by construction, so `t − tₚ` is an exact small integer and the
   * closing lerp is three pinned IEEE ops — engine-identical, no
   * timestamp-epoch conversion conventions to disagree on.
   *
   * Output: keys…, `bucket`, `v` (observed, null in gaps), `v_interp`.
   *
   * Scale posture: identical to [[resampleFill]] — ONE key shuffle
   * serves the bucket agg, span agg, axis join and BOTH directional
   * windows (same partitioning; the forward pass is a linear running
   * frame over the descending order, one extra partition-local sort,
   * never the O(k²) unbounded-following frame); axis length is
   * span/unit-bounded, not event-bounded.
   */
  def interpolateAt(df: DataFrame, keys: Seq[String], tsCol: String,
                    valueCol: String, unit: String,
                    agg: Column => Column = max): DataFrame = {
    require(keys.nonEmpty, "interpolateAt needs at least one key column")
    val kc = keys.map(col)
    val obs = df.filter(col(tsCol).isNotNull)
      .groupBy(kc :+ date_trunc(unit, col(tsCol)).as("bucket"): _*)
      .agg(agg(col(valueCol)).as("v"))
      .localCheckpoint(false)
    val axis = obs.groupBy(kc: _*)
      .agg(min(col("bucket")).as("__b0"), max(col("bucket")).as("__b1"))
      .select(kc :+ explode(sequence(col("__b0"), col("__b1"),
        expr(s"interval 1 $unit"))).as("bucket"): _*)
    val ord = Window.partitionBy(kc: _*).orderBy(col("bucket"))
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the forward pass is a RUNNING frame over the DESCENDING bucket
    // order — semantically identical to first(...) over (currentRow →
    // unboundedFollowing) because the grid has one row per bucket, but
    // O(k) per key instead of Spark's O(k²)
    // UnboundedFollowingWindowFunctionFrame, which re-evaluates the
    // aggregate from scratch at every row. Costs one extra partition-
    // local sort on the SAME key exchange; no extra shuffle.
    val fwd = Window.partitionBy(kc: _*).orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = axis.join(obs, keys :+ "bucket", "left")
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__pv", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("__pi", last(when(col("v").isNotNull, col("__rn")),
        ignoreNulls = true).over(back))
      .withColumn("__nv", last(col("v"), ignoreNulls = true).over(fwd))
      .withColumn("__ni", last(when(col("v").isNotNull, col("__rn")),
        ignoreNulls = true).over(fwd))
    val frac = (col("__rn") - col("__pi")).cast("double") /
      (col("__ni") - col("__pi")).cast("double")
    val lerp = col("__pv").cast("double") +
      (col("__nv").cast("double") - col("__pv").cast("double")) * frac
    joined.select(kc ++ Seq(col("bucket"), col("v"),
      when(col("v").isNotNull, col("v").cast("double"))
        .when(col("__pv").isNotNull && col("__nv").isNotNull, lerp)
        .as("v_interp")): _*)
  }

  /**
   * Ordered-funnel attribution: for each actor, the first timestamp
   * at which it completed step 1, step 2 AFTER (or at) a completed
   * step 1, step 3 after that, … for an arbitrary ordered `steps`
   * list.
   *
   * One shuffle on the actor key does the whole funnel: a running
   * `min(CASE step_i) OVER (PARTITION BY actor ORDER BY ts)` marks,
   * at every row, the earliest step-i completion at-or-before that
   * row; a step-(i+1) event "qualifies" iff that marker is non-null.
   * The windows use the default RANGE frame (unbounded preceding →
   * current row INCLUDING ts-peers), so results are independent of
   * any tie-breaking order among equal timestamps — an event at the
   * exact same timestamp as the prior step counts as "after" it,
   * which is the deterministic reading of coarse timestamps.
   *
   * Output: actor, `step1_ts` … `stepN_ts` (null where never
   * reached), `stage` (number of consecutive steps completed).
   * All N running mins evaluate in ONE window pass (same partition ×
   * same ordering), and the final per-actor reduce reuses the same
   * exchange — this never rescans or re-shuffles per step, unlike the
   * self-join formulation which costs a join per funnel stage.
   */
  def funnel(df: DataFrame, actorCol: String, tsCol: String,
             typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val w = Window.partitionBy(col(actorCol)).orderBy(col(tsCol))
    val base = df
      .filter(col(actorCol).isNotNull && col(tsCol).isNotNull)
      .select(col(actorCol), col(tsCol), col(typeCol))
    // qual(i) = this row's ts if it is a step-i event preceded (or
    // tied) by a qualified step-(i-1); reach(i) = running min of qual(i)
    val quals = steps.indices.foldLeft(base) { (acc, i) =>
      val q =
        if (i == 0) when(col(typeCol) === steps(i), col(tsCol))
        else when(col(typeCol) === steps(i) &&
          min(col(s"__q${i - 1}")).over(w).isNotNull, col(tsCol))
      acc.withColumn(s"__q$i", q)
    }
    val stepCols = steps.indices.map(i =>
      min(col(s"__q$i")).as(s"step${i + 1}_ts"))
    // step i qualifies only after step i-1, so non-null step columns
    // form a prefix; stage = the highest non-null (checked outermost)
    val stage = steps.indices.foldLeft(lit(0)) { (acc, i) =>
      when(col(s"step${i + 1}_ts").isNotNull, lit(i + 1)).otherwise(acc)
    }
    quals.groupBy(col(actorCol))
      .agg(stepCols.head, stepCols.tail: _*)
      .withColumn("stage", stage)
  }

  /**
   * Median conversion latency per funnel stage: for each ADJACENT
   * step pair, the exact lower median of whole-second latencies over
   * the actors who completed the later step — "how long does
   * view→click take?", the funnel's time dimension that [[funnel]]'s
   * completion counts don't show.
   *
   * Builds on [[funnel]]'s per-actor step timestamps (the prefix
   * property guarantees step i+1 implies step i, so the latency is
   * never negative); the per-actor pairs melt through ONE stack
   * generator and the median is [[graft.agg.GroupBy.weightedMedian]]
   * at unit weight — an exact order statistic, engine-identical.
   * Latencies are whole seconds (epoch truncation on both ends), so
   * values tie exactly on the integer grid.
   *
   * Output: (pair — "stepA_to_stepB", n, total_weight, wmedian).
   *
   * Scale posture: the funnel's one actor-key shuffle dominates; the
   * pair relation is per-actor-sized, and the median machinery
   * collapses it to the (pair, latency) grid map-side.
   */
  def funnelLatency(df: DataFrame, actorCol: String, tsCol: String,
                    typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "funnelLatency needs at least two steps")
    val f = funnel(df, actorCol, tsCol, typeCol, steps)
    val pairs = steps.indices.dropRight(1).map { i =>
      val label = s"${steps(i)}_to_${steps(i + 1)}".replace("'", "''")
      s"'$label', CAST(step${i + 2}_ts AS BIGINT) - " +
        s"CAST(step${i + 1}_ts AS BIGINT)"
    }.mkString(", ")
    val lat = f
      .select(expr(
        s"stack(${steps.size - 1}, $pairs) AS (pair, latency_s)"))
      .filter(col("latency_s").isNotNull)
      .withColumn("__w", lit(1.0))
    graft.agg.GroupBy.weightedMedian(lat, Seq("pair"), "latency_s", "__w")
  }

  /**
   * Per-key event-sequence assembly for sequence-model training data:
   * each key's first `maxLen` event values in time order, joined into
   * one string, plus the key's TOTAL event count (so truncation is
   * visible downstream). Ties on the timestamp break on `tieCol`
   * (any unique column — an event id), making the sequence
   * deterministic under any partitioning.
   *
   * One key shuffle serves both the ordering window and the final
   * aggregate (same partitioning — the invertedIndex single-exchange
   * shape); the cap happens INSIDE `collect_list` (`when(rn ≤ cap)`,
   * nulls skipped), so per-key state in the aggregate is bounded by
   * `maxLen`, not by the key's event count — the property that keeps
   * a hot key from materializing its whole history in one task.
   *
   * Rows with a null key, ts or tie are dropped ([[positioned]]): they
   * have no place in the (ts, tie) order. Null values stay — counted
   * in `n_events`, skipped by the join.
   */
  def eventSequences(df: DataFrame, keys: Seq[String], tsCol: String,
                     valueCol: String, tieCol: String,
                     maxLen: Int): DataFrame = {
    require(keys.nonEmpty, "eventSequences needs key columns")
    require(maxLen > 0, s"maxLen must be positive, got $maxLen")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    positioned(df, keys, tsCol, tieCol, Nil)
      .withColumn("__rn", row_number().over(w))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        array_join(transform(
          array_sort(collect_list(when(col("__rn") <= maxLen,
            struct(col("__rn").as("r"), col(valueCol).cast("string").as("v"))))),
          s => s.getField("v")), " ").as("sequence"))
  }

  /**
   * Leading-edge throttle (debounce): keep an event iff more than
   * `gapMicros` elapsed since the key's PREVIOUS event — i.e. exactly
   * the first event of each burst, where bursts are maximal chains of
   * events each within the gap of its predecessor (the same session
   * definition as `GroupBy.sessionize`; this keeps session HEADS
   * without materializing session ids). The alert/dedup-throttle
   * primitive for event feeds.
   *
   * ONE window over the keys does it: `lag(ts)` + gap compare, with
   * `tieCol` breaking timestamp ties deterministically (tied events
   * are one burst: the `> gap` compare never splits a tie). Rows pass
   * through unchanged; no aggregation, so AQE skew handling applies
   * to hot keys like any windowed operator. Rows with a null key, ts
   * or tie are dropped ([[positioned]]).
   */
  def throttle(df: DataFrame, keys: Seq[String], tsCol: String,
               tieCol: String, gapMicros: Long): DataFrame = {
    require(keys.nonEmpty, "throttle needs key columns")
    require(gapMicros >= 0, s"gap must be >= 0, got $gapMicros")
    val t = unix_micros(col(tsCol))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(t, col(tieCol))
    val keep = graft.core.Engine.freshColumn(df, "__graft_thr_prev")
    positioned(df, keys, tsCol, tieCol, Nil)
      .withColumn(keep, lag(t, 1).over(w))
      .filter(col(keep).isNull || t - col(keep) > gapMicros)
      .drop(keep)
  }

  /**
   * Consecutive-duplicate compression (event-log compaction): within
   * each key, ordered by time (ties on `tieCol`), drop a row when
   * EVERY `valueCols` entry is null-safely equal to the previous
   * row's — keeping only change points (the first row always stays).
   * The inverse of a forward-fill: compact a sampled feed back to its
   * transitions before storage or SCD ingestion.
   *
   * One key-shuffle window; `lag` of the (non-null) tie column marks
   * the first row, so a leading null value is still kept.
   */
  def compressConsecutive(df: DataFrame, keys: Seq[String], tsCol: String,
                          tieCol: String, valueCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "compressConsecutive needs key columns")
    require(valueCols.nonEmpty, "compressConsecutive needs value columns")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val changed = valueCols
      .map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _)
    // window expressions can't sit in a WHERE clause — stage the flag
    val keep = graft.core.Engine.freshColumn(df, "__graft_cc_keep")
    // null VALUES stay: the null-safe <=> comparison is the semantics
    positioned(df, keys, tsCol, tieCol, Nil)
      .withColumn(keep,
        lag(col(tieCol), 1).over(w).isNull || changed)
      .filter(col(keep)).drop(keep)
  }

  /**
   * Cohort retention matrix: actors grouped by the `date_trunc` bucket
   * of their FIRST event (the cohort), then, for each (cohort,
   * bucket-offset) cell, how many of the cohort's actors were active
   * in that bucket — the canonical product-analytics retention
   * triangle, plus each cohort's size and the exact retained
   * fraction. Offsets are whole `unit` steps between the truncated
   * buckets; offset 0 is the cohort bucket itself (retention 1.0 by
   * construction — kept as the sanity row).
   *
   * Output: (cohort, offset, n_active, cohort_size, retention) —
   * counts exact, `retention` one division of exact integers.
   *
   * Scale posture: two shuffles, both on keys that SHRINK the data —
   * (1) actor-keyed: the cohort derivation is a running `min()` window
   * and the per-(actor, bucket) dedup a groupBy, sharing one actor
   * exchange (a separate min-join formulation would scan and shuffle
   * the events twice); (2) (cohort, offset)-keyed counts over the
   * deduped actor-buckets. Nothing is actor-history-materializing: a
   * hot actor collapses to its distinct buckets in the map-side
   * partial. Cohort sizes ride the same deduped relation (offset 0 ⇔
   * cohort membership), so no third scan.
   *
   * @param unit a `date_trunc` unit (`"week"`, `"day"`, `"month"`, …)
   */
  def retentionCohorts(df: DataFrame, actorCol: String, tsCol: String,
                       unit: String): DataFrame = {
    val w = Window.partitionBy(col(actorCol))
    val ab = df.filter(col(actorCol).isNotNull && col(tsCol).isNotNull)
      .select(col(actorCol), date_trunc(unit, col(tsCol)).as("__bucket"))
      .withColumn("cohort", min(col("__bucket")).over(w))
      .groupBy(col(actorCol), col("cohort"), col("__bucket"))
      .agg(count(lit(1)).as("__n"))
      // offset in whole units between truncated buckets: exact via
      // the unit count between the two bucket timestamps
      .withColumn("offset", offsetExpr(unit, col("cohort"), col("__bucket")))
      .localCheckpoint(false)
    val sizes = ab.filter(col("offset") === 0L)
      .groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
    ab.groupBy(col("cohort"), col("offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort"))
      .select(col("cohort"), col("offset"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
  }

  /**
   * First-order Markov transition matrix over an event stream: for
   * every ordered pair of consecutive states within a key, the count
   * and the conditional probability `P(to | from)` — the
   * next-event-prediction / user-journey primitive ("after a view,
   * 12% of next actions are a purchase").
   *
   * Pinned: consecutive = adjacent under (`tsCol`, `tieCol`) per key
   * (ties are REAL orderings in event feeds — `tieCol` makes the
   * successor deterministic); `p = n / n_from` as one double divide,
   * where `n_from` counts the state's appearances AS a predecessor
   * (rows with a successor), so each row of the matrix sums to 1.
   *
   * Output: (from_state, to_state, n, p).
   *
   * Scale posture: ONE shuffle on the keys for the `lead` window; the
   * pair aggregation map-side combines into |states|² rows, and
   * `n_from` is a window over that tiny relation — no second pass
   * over the events.
   */
  def transitionMatrix(df: DataFrame, keys: Seq[String], tsCol: String,
                       stateCol: String, tieCol: String): DataFrame = {
    require(keys.nonEmpty, "transitionMatrix needs key columns")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val pairs = positioned(df, keys, tsCol, tieCol, Seq(stateCol))
      .withColumn("__next", lead(col(stateCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(stateCol).as("from_state"), col("__next").as("to_state"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy(col("from_state"))
    pairs
      .withColumn("p",
        col("n").cast("double") / sum("n").over(wf).cast("double"))
      .select(col("from_state"), col("to_state"), col("n"), col("p"))
  }

  /**
   * Per-key exponentially-weighted moving average: for every event,
   * the EWMA of the key's values up to and including it — the
   * standard monitoring smoother (`e₀ = x₀`,
   * `eᵢ = eᵢ₋₁ + α·(xᵢ − eᵢ₋₁)`, that exact association order both
   * engines replay). Events order by (`tsCol`, `tieCol`) within the
   * key ([[positioned]] rows only).
   *
   * Output: (keys…, `tieCol`, `tsCol`, `valueCol`, `out`).
   *
   * Mechanics: EWMA is inherently recursive — no window frame
   * expresses it — so each key's [[sortedSeries]] list folds through
   * an in-group array build (`aggregate` appending one smoothed value
   * per step) and explodes back to rows. ONE shuffle on the keys.
   */
  def ewma(df: DataFrame, keys: Seq[String], tsCol: String, tieCol: String,
           valueCol: String, alpha: Double, out: String = "ewma"): DataFrame = {
    require(keys.nonEmpty, "ewma needs key columns")
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    val folded = sortedSeries(df, keys, tsCol, tieCol, Seq(valueCol),
        col(valueCol).cast("double").as("v"))
      .withColumn("__e",
        emaFold(transform(col("__l"), _.getField("v")), lit(alpha)))
    perEvent(folded, keys, tsCol, tieCol, valueCol, Seq("__e"),
      col("col.__e").as(out))
  }

  /**
   * Maximum drawdown per key — the classic peak-to-trough risk
   * measure for any cumulative metric series (revenue run-rate,
   * model-score trajectory, account balance): walk the series in
   * (tsCol, tieCol) order, track the running peak, and report the
   * largest relative drop `(peak − v)/peak` from it, with the peak
   * and trough values that realize it.
   *
   * Engine-exact: values snap to the 10⁻ˢᶜᵃˡᵉ grid as exact integer
   * units; the running peak is an integer cumulative max on ONE key
   * window; each row's drawdown is one pinned division of two exact
   * integers, and the argmax row resolves by (drawdown desc, ts, tie)
   * — a total order, so the reported peak/trough pair is unique.
   * Non-positive peaks (a series that never goes above 0) emit null —
   * relative drawdown from a ≤0 peak is not a number.
   *
   * Output: (keys…, n, peak_value, trough_value, max_drawdown) — one
   * row per key; max_drawdown ∈ [0, 1] for positive series (0 =
   * monotone non-decreasing).
   *
   * Scale posture: one key exchange carries the cumulative-max
   * window AND the rank cut (WindowGroupLimit); per-key linear.
   */
  def maxDrawdown(df: DataFrame, keys: Seq[String], tsCol: String,
                  tieCol: String, valueCol: String,
                  valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "maxDrawdown needs key columns")
    val scaleF = math.pow(10, valueScale)
    val vc = unscaled(col(valueCol), valueScale)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wk = Window.partitionBy(keys.map(col): _*)
    val walked = positioned(df, keys, tsCol, tieCol, Seq(valueCol))
      .withColumn("__vc", vc)
      .withColumn("__peak", max(col("__vc")).over(w))
      .withColumn("__dd", when(col("__peak") > 0L,
        (col("__peak") - col("__vc")).cast("double") /
          col("__peak").cast("double")))
      .withColumn("__n", count(lit(1)).over(wk))
    walked
      .withColumn("__r", row_number().over(Window
        .partitionBy(keys.map(col): _*)
        .orderBy(col("__dd").desc_nulls_last, col(tsCol), col(tieCol))))
      .filter(col("__r") === 1)
      .select(keys.map(col) ++ Seq(col("__n").as("n"),
        when(col("__dd").isNotNull,
          col("__peak").cast("double") / lit(scaleF)).as("peak_value"),
        when(col("__dd").isNotNull,
          col("__vc").cast("double") / lit(scaleF)).as("trough_value"),
        col("__dd").as("max_drawdown")): _*)
  }

  /**
   * Holt linear-trend smoothing per key (double exponential
   * smoothing) — [[ewma]]'s trend-aware sibling and the standard
   * capacity/throughput trend monitor: `lₜ = α·xₜ + (1−α)(lₜ₋₁+bₜ₋₁)`,
   * `bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁`, initialized `l₁ = x₁, b₁ = 0`
   * (the deterministic convention; a series of one has zero trend).
   * Returns the FINAL state per key plus the `horizon`-step-ahead
   * forecast `l + h·b` — grid-sized output, O(1) fold state.
   *
   * Engine-exact: the recursion is inherently sequential, so each
   * key's series folds ONCE in (tsCol, tieCol) order with a
   * two-double state; every step is a pinned IEEE chain where the
   * complements `1−α`, `1−β` are computed IN the expression
   * (`1.0 − α` in binary64 is NOT the double nearest `0.7` — a
   * driver-side pre-computed literal would diverge from an oracle's
   * in-engine subtraction by an ulp and compound over the fold).
   * An ANSI engine replays the fold bit-for-bit (list_reduce with a
   * DOUBLE[] state — struct accumulators silently don't fold in
   * DuckDB 1.0).
   *
   * Output: (keys…, n, level, trend, forecast).
   *
   * Scale posture: ONE key exchange; the in-group array build is
   * bounded by the KEY's event count ([[sortedSeries]]).
   */
  def holtLinear(df: DataFrame, keys: Seq[String], tsCol: String,
                 tieCol: String, valueCol: String, alpha: Double,
                 beta: Double, horizon: Int = 1): DataFrame = {
    require(keys.nonEmpty, "holtLinear needs key columns")
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    require(beta > 0 && beta <= 1, s"beta in (0,1], got $beta")
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    val a = lit(r9(alpha)); val b = lit(r9(beta))
    val folded = sortedSeries(df, keys, tsCol, tieCol, Seq(valueCol),
        col(valueCol).cast("double").as("v"))
      .withColumn("__s", aggregate(col("__l"),
        array().cast("array<double>"),
        (acc, x) => {
          val l = element_at(acc, 1); val tr = element_at(acc, 2)
          val l2 = a * x.getField("v") + (lit(1.0) - a) * (l + tr)
          val b2 = b * (l2 - l) + (lit(1.0) - b) * tr
          when(size(acc) === 0, array(x.getField("v"), lit(0.0)))
            .otherwise(array(l2, b2))
        }))
    folded.select(keys.map(col) ++ Seq(col("__n").as("n"),
      element_at(col("__s"), 1).as("level"),
      element_at(col("__s"), 2).as("trend"),
      (element_at(col("__s"), 1) +
        lit(horizon.toDouble) * element_at(col("__s"), 2))
        .as("forecast")): _*)
  }

  /**
   * Holt-Winters ADDITIVE SEASONAL smoothing per key — completing the
   * exponential family ([[ewma]] level → [[holtLinear]] level+trend →
   * this: level+trend+season): the standard model for metrics with a
   * daily/weekly shape. Seasons index by TICK POSITION modulo
   * `period` (resample to a regular grid first — [[resampleFill]] —
   * when wall-clock seasonality is meant), with the deterministic
   * zero-init convention `l₀ = 0, b₀ = 0, s = 0⃗` (the smoother
   * forgets it geometrically; a series of ≥ a few periods is
   * indistinguishable from fancier seeding, and zero-init is the one
   * convention every engine replays bit-for-bit):
   * `lₜ = α(xₜ − s_j) + (1−α)(lₜ₋₁+bₜ₋₁)`,
   * `bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁`,
   * `s_j ← γ(xₜ−lₜ) + (1−γ)s_j`, `j = (t−1) mod period + 1`.
   *
   * Engine-exact: one sequential fold per key in (tsCol, tieCol)
   * order with a (3+period)-double state; α, β, γ and their
   * complements are 10⁻⁹-grid literals with `1−·` computed
   * IN-expression (the q327 ulp discipline); season updates rebuild
   * the vector positionally (≡ list_transform with an index CASE) so
   * an ANSI engine replays the fold with list_reduce.
   *
   * Output: (keys…, n, season_idx, level, trend, seasonal) — one row
   * per (key, season position 1..period); level/trend repeat per row
   * (the h-step forecast is `level + h·trend + seasonal[(n+h−1) mod
   * period + 1]`, left to the caller with its own h).
   *
   * Scale posture: one key exchange; the in-group array build is
   * bounded by the key's event count (the [[ewma]] contract).
   */
  def holtWinters(df: DataFrame, keys: Seq[String], tsCol: String,
                  tieCol: String, valueCol: String, alpha: Double,
                  beta: Double, gamma: Double, period: Int): DataFrame = {
    require(keys.nonEmpty, "holtWinters needs key columns")
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    require(beta > 0 && beta <= 1, s"beta in (0,1], got $beta")
    require(gamma > 0 && gamma <= 1, s"gamma in (0,1], got $gamma")
    require(period >= 2, s"period must be >= 2, got $period")
    val a = lit(r9(alpha)); val bt = lit(r9(beta)); val g = lit(r9(gamma))
    val init = concat(array(lit(0.0), lit(0.0), lit(0.0)),
      transform(sequence(lit(1), lit(period)), _ => lit(0.0)))
    val fold = aggregate(col("__l"), init, (acc, p) => {
      val l = element_at(acc, 1); val b = element_at(acc, 2)
      val cnt = element_at(acc, 3)
      val j = (pmod(cnt.cast("long"), lit(period.toLong)) + 1L)
        .cast("int")
      val sj = element_at(acc, j + 3)
      val x = p.getField("v")
      val l2 = a * (x - sj) + (lit(1.0) - a) * (l + b)
      val b2 = bt * (l2 - l) + (lit(1.0) - bt) * b
      val sj2 = g * (x - l2) + (lit(1.0) - g) * sj
      concat(array(l2, b2, cnt + lit(1.0)),
        transform(sequence(lit(1), lit(period)), jj =>
          when(jj === j, sj2)
            .otherwise(element_at(acc, (jj + 3).cast("int")))))
    })
    sortedSeries(df, keys, tsCol, tieCol, Seq(valueCol),
        col(valueCol).cast("double").as("v"))
      .select(keys.map(col) ++ Seq(col("__n").as("n"), fold.as("__m")): _*)
      .select(keys.map(col) ++ Seq(col("n"),
        posexplode(slice(col("__m"), 4, period))
          .as(Seq("__p", "seasonal")),
        element_at(col("__m"), 1).as("level"),
        element_at(col("__m"), 2).as("trend")): _*)
      .select(keys.map(col) ++ Seq(col("n"),
        (col("__p") + 1).cast("long").as("season_idx"),
        col("level"), col("trend"), col("seasonal")): _*)
  }

  /**
   * Croston's method per key — the INTERMITTENT-demand forecaster
   * ([[ewma]] and [[holtLinear]] assume a dense series; spare-parts /
   * long-tail-SKU / rare-event streams are mostly zeros, where plain
   * smoothing collapses toward 0 between demands): smooth the
   * NON-ZERO demand sizes and the inter-demand intervals separately,
   * forecast their ratio. Input contract: one row per PERIOD per key
   * (a regular grid with explicit zeros — build it with a calendar
   * spine, e.g. the q347 gate's sequence-join, or [[resampleFill]]).
   *
   * Pinned convention: the first demand initializes `z = x, p = q`
   * (its own size and observed interval); thereafter
   * `z ← α·x + (1−α)·z`, `p ← α·q + (1−α)·p` on demand periods only,
   * where q counts periods since the previous demand (inclusive).
   *
   * Engine-exact: demands snap to the cent grid; the walk folds
   * SEQUENTIALLY in (tsCol, tieCol) order with a five-double state
   * (z, p, gap counter, seen flag, demand count); α and `1−α` are
   * 10⁻⁹-grid / in-expression literals; closings are pinned. Keys
   * with no demand at all emit null estimates.
   *
   * Output: (keys…, n_periods, n_demands, size_est, interval_est,
   * forecast) — forecast = size/interval, demand per period.
   *
   * Scale posture: one key exchange; the fold runs over the key's
   * collected period grid (per-entity contract).
   */
  def croston(df: DataFrame, keys: Seq[String], tsCol: String,
              tieCol: String, demandCol: String, alpha: Double,
              valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "croston needs key columns")
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    val a = lit(r9(alpha))
    val scaleF = math.pow(10, valueScale)
    val vc = unscaled(col(demandCol), valueScale)
    // state [z, p, q, seen, nDemands]
    val fold = aggregate(col("__l"),
      array(lit(0.0), lit(0.0), lit(0.0), lit(0.0), lit(0.0)),
      (acc, row) => {
        val x = row.getField("x")
        val z = element_at(acc, 1); val p = element_at(acc, 2)
        val q1 = element_at(acc, 3) + lit(1.0)
        val seen = element_at(acc, 4); val nd = element_at(acc, 5)
        when(x > 0.0 && seen === 0.0,
          array(x, q1, lit(0.0), lit(1.0), lit(1.0)))
          .when(x > 0.0,
            array(a * x + (lit(1.0) - a) * z,
              a * q1 + (lit(1.0) - a) * p,
              lit(0.0), lit(1.0), nd + lit(1.0)))
          .otherwise(array(z, p, q1, seen, nd))
      })
    val m = (i: Int) => element_at(col("__m"), i)
    sortedSeries(df, keys, tsCol, tieCol, Seq(demandCol),
        vc.cast("double").as("x"))
      .withColumn("__m", fold)
      .select(keys.map(col) ++ Seq(col("__n").as("n_periods"),
        m(5).cast("long").as("n_demands"),
        when(m(4) === 1.0, m(1) / lit(scaleF)).as("size_est"),
        when(m(4) === 1.0, m(2)).as("interval_est"),
        when(m(4) === 1.0, m(1) / m(2) / lit(scaleF)).as("forecast")): _*)
  }

  /**
   * Wilder's Relative Strength Index per key — [[ewma]]'s bounded
   * momentum cousin and the standard overbought/oversold monitor
   * (RSI > 70 hot, < 30 cold), applicable to any metric series
   * (error rates, queue depths), not just prices. Tick-to-tick
   * deltas split into gains and losses; both smooth by Wilder's
   * recurrence `avg_t = (avg_{t−1}·(n−1) + x_t)/n` after an n-delta
   * simple-average seed; `rsi = 100·avgGain/(avgGain+avgLoss)`
   * (algebraically 100 − 100/(1+RS), but pinned in THIS form so a
   * zero-loss series closes to 100 with no special case).
   *
   * Engine-exact: deltas are exact integer grid units (cents), the
   * seed sums are exact integers with ONE pinned division each, the
   * recurrence folds SEQUENTIALLY in (tsCol, tieCol) order with a
   * three-double state and n, n−1 as in-expression literals (≡
   * list_reduce), and the closing chain is pinned. Keys with fewer
   * than `period` deltas emit null smoothed values and rsi (the seed
   * never completes); an all-flat seeded series (avgGain = avgLoss =
   * 0) emits null rsi, not 0/0.
   *
   * Output: (keys…, n_deltas, avg_gain, avg_loss, rsi) — one row per
   * key, averages in original value units.
   *
   * Scale posture: one key exchange carries the lag window; the fold
   * runs over the key's COLLECTED delta series (the [[ewma]]/
   * [[holtLinear]] per-entity contract — for unbounded streams carry
   * the same recurrence in keyed state).
   */
  def rsi(df: DataFrame, keys: Seq[String], tsCol: String,
          tieCol: String, valueCol: String, period: Int = 14,
          valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "rsi needs key columns")
    require(period >= 1, s"period must be >= 1, got $period")
    val scaleF = math.pow(10, valueScale)
    val vc = unscaled(col(valueCol), valueScale)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val nD = lit(period.toDouble)
    val nM1 = lit((period - 1).toDouble)
    val deltas = positioned(df, keys, tsCol, tieCol, Seq(valueCol))
      .withColumn("__vc", vc)
      .withColumn("__d", (col("__vc") - lag(col("__vc"), 1).over(w))
        .cast("double"))
    // state [i, aG, aL]: during the seed phase aG/aL hold running
    // SUMS; the i = period step divides once; after that, Wilder
    val fold = aggregate(col("__l"), array(lit(0.0), lit(0.0), lit(0.0)),
      (acc, x) => {
        val i = element_at(acc, 1); val aG = element_at(acc, 2)
        val aL = element_at(acc, 3)
        val g = greatest(x.getField("d"), lit(0.0))
        val l = greatest(-x.getField("d"), lit(0.0))
        val i2 = i + lit(1.0)
        when(i2 < nD, array(i2, aG + g, aL + l))
          .when(i2 === nD, array(i2, (aG + g) / nD, (aL + l) / nD))
          .otherwise(array(i2, (aG * nM1 + g) / nD,
            (aL * nM1 + l) / nD))
      })
    val m = (i: Int) => element_at(col("__m"), i)
    // the head row has no delta: `__d` in notNull drops it
    sortedSeries(deltas, keys, tsCol, tieCol, Seq("__d"), col("__d").as("d"))
      .withColumn("__m", fold)
      .withColumnRenamed("__n", "n_deltas")
      .withColumn("avg_gain",
        when(m(1) >= nD, m(2) / lit(scaleF)))
      .withColumn("avg_loss",
        when(m(1) >= nD, m(3) / lit(scaleF)))
      .withColumn("rsi", when(m(1) >= nD && m(2) + m(3) > 0.0,
        lit(100.0) * m(2) / (m(2) + m(3))))
      .select(keys.map(col) ++ Seq(col("n_deltas"), col("avg_gain"),
        col("avg_loss"), col("rsi")): _*)
  }

  /**
   * Day-of-week seasonality profile per key: for every (key, dow),
   * the event count, the exact-decimal mean value, and the ratio of
   * that mean to the key's overall mean — the "weekends convert 1.4×"
   * table, and the denominator for deseasonalized anomaly checks.
   *
   * `dow` is 1 (Sunday) … 7 (Saturday) — Spark's `dayofweek`. Means
   * divide exact DECIMAL sums once ([[graft.agg.Stats]] discipline);
   * the key-overall mean comes from window sums over the tiny
   * (key, dow) relation — no second pass over the events.
   */
  def seasonalityProfile(df: DataFrame, keys: Seq[String], tsCol: String,
                         valueCol: String): DataFrame = {
    require(keys.nonEmpty, "seasonalityProfile needs key columns")
    val agg = df
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(keys.map(col) :+ dayofweek(col(tsCol)).as("dow"): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).as("__s"))
    val wk = Window.partitionBy(keys.map(col): _*)
    val meanDow = col("__s").cast("double") / col("n").cast("double")
    val meanKey = sum(col("__s")).over(wk).cast("double") /
      sum(col("n")).over(wk).cast("double")
    agg
      .withColumn("mean_value", meanDow)
      .withColumn("ratio_to_key_mean", meanDow / meanKey)
      .drop("__s")
  }

  /**
   * STL-lite additive seasonal-trend decomposition per key — the gap
   * between [[seasonalityProfile]] (one ratio per day-of-week, no
   * trend) and [[holtWinters]] (recursive smoothing state, no
   * per-event decomposition): every event gets `value = trend +
   * seasonal + remainder`, the classical-decomposition form of STL
   * (fixed window means instead of loess — deterministic and
   * oracle-replayable, which loess is not). Companion to
   * [[seasonalDecompose]], which decomposes a REGULAR integer-count
   * series (one row per integer t, odd periods only); this variant
   * decomposes a cent-grid VALUE series in (`tsCol`, `tieCol`) event
   * order and supports even periods via the classical 2×p MA.
   *
   * Pinned semantics (events order by (`tsCol`, `tieCol`) per key;
   * `phase = (row_index − 1) mod period`):
   *  - `trend`: centered moving average. Odd period p: the mean of
   *    the full `[i−(p−1)/2, i+(p−1)/2]` window. Even period p: the
   *    classical 2×p MA — half weight on the two ends,
   *    `(x₋ₕ + 2·Σ mid + x₊ₕ) / 2p` with `h = p/2`. Null until the
   *    window is FULL (the standard head/tail contract — a partial
   *    window is a different estimator).
   *  - `seasonal`: the per-phase mean of the detrended series,
   *    CENTERED by subtracting the overall detrended mean (the
   *    n-weighted mean of the phase means — so `Σ nⱼ·seasonalⱼ = 0`
   *    EXACTLY and the trend keeps the level; the weighted
   *    convention keeps the centering one exact decimal ratio
   *    instead of an order-sensitive IEEE fold over phase means).
   *  - `remainder = value − trend − seasonal` (that association
   *    order), null wherever trend or seasonal is.
   *
   * Engine-exact: values snap to the cent grid; the trend window sum
   * rides the exact integer grid DOUBLED for even periods (the half
   * weights become whole), so `trend = T / m / 100` is one pinned
   * division chain (`m = 2p` even, `p` odd). Detrended values stay
   * on the exact `m·cents` integer grid into DECIMAL(38,0) phase
   * sums; each phase mean and the centering mean are pinned chains
   * over those exact sums — no double is ever summed, so every
   * engine reproduces every bit.
   * Phases whose rows all lack a trend (short series) emit null
   * seasonal; series shorter than the trend window emit all-null
   * trend AND seasonal. Rows run through [[positioned]].
   *
   * Output: (keys…, `tieCol`, `tsCol`, `valueCol` (snapped units),
   * phase, trend, seasonal, remainder) — one row per input event.
   *
   * Scale posture: ONE key exchange carries the row-number and trend
   * windows; the phase relation is ≤ `period` rows per key (map-side
   * collapsed), its centering window rides that tiny relation, and
   * the seasonal join back is key-equi on (keys, phase) with the
   * tiny side broadcastable. Nothing is per-key-history
   * materializing except the windows the ordering already requires.
   *
   * Reference for the operator class: goetl has per-window
   * aggregation (`transformers/aggregate.go`) but no decomposition;
   * this is the classical-decomposition extension of that family.
   */
  def stlDecompose(df: DataFrame, keys: Seq[String], tsCol: String,
                   tieCol: String, valueCol: String, period: Int,
                   valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "stlDecompose needs key columns")
    require(period >= 2, s"period must be >= 2, got $period")
    val scaleF = math.pow(10, valueScale).toLong
    val vc = unscaled(col(valueCol), valueScale)
    val even = period % 2 == 0
    val h = if (even) period / 2 else (period - 1) / 2
    val full = if (even) period + 1 else period
    val m = if (even) 2L * period else period.toLong
    val mD = lit(m.toDouble)
    val wOrd = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val wWin = wOrd.rowsBetween(-h, h)
    val base = positioned(df, keys, tsCol, tieCol, Seq(valueCol))
      .withColumn("__vc", vc)
      .withColumn("__phase",
        ((row_number().over(wOrd) - 1) % period).cast("long"))
    val winSum = sum(col("__vc")).over(wWin)
    val winN = count(lit(1)).over(wWin)
    // even: T = 2·S − ends (half weights doubled); odd: T = S doubled
    // too, so m = 2p/p respectively keeps ONE division convention
    val tRaw =
      if (even)
        lit(2L) * winSum - lag(col("__vc"), h).over(wOrd) -
          lead(col("__vc"), h).over(wOrd)
      else winSum
    val stepped = base
      .withColumn("__t", when(winN === full, tRaw))
      .withColumn("__dm",
        when(col("__t").isNotNull, mD * col("__vc") - col("__t")))
    // __dm rides the exact m·cents integer grid in BOTH parities:
    // odd m = p with T the plain window sum, even m = 2p with T the
    // doubled half-weighted sum — so __dm = m·v − T is always a long
    val trendD = col("__t").cast("double") / mD / lit(scaleF.toDouble)
    // per-(key, phase) exact sums of the detrended grid values
    val ph = stepped
      .groupBy(keys.map(col) :+ col("__phase"): _*)
      .agg(count(col("__dm")).as("__n"),
        sum(col("__dm").cast("decimal(38,0)")).as("__sn"))
    val raw = when(col("__n") > 0L,
      col("__sn").cast("double") / col("__n").cast("double") / mD /
        lit(scaleF.toDouble))
    // centering = the overall detrended mean: EXACT decimal sums over
    // the tiny (keys, phase) relation (order-free), one pinned chain
    val wk = Window.partitionBy(keys.map(col): _*)
    val totSn = sum(col("__sn")).over(wk)
    val totN = sum(col("__n")).over(wk)
    val meanAll = when(totN > 0L,
      totSn.cast("double") / totN.cast("double") / mD /
        lit(scaleF.toDouble))
    val cent = ph
      .select(keys.map(col) ++ Seq(col("__phase"),
        (raw - meanAll).as("__seasonal")): _*)
    val vD = col("__vc").cast("double") / lit(scaleF.toDouble)
    stepped
      .join(cent, keys :+ "__phase")
      .select(keys.map(col) ++ Seq(col(tieCol), col(tsCol),
        vD.as(valueCol), col("__phase").as("phase"),
        trendD.as("trend"), col("__seasonal").as("seasonal"),
        (vD - trendD - col("__seasonal")).as("remainder")): _*)
  }

  /**
   * Frequent session paths: sessionize each actor's events
   * ([[graft.agg.GroupBy.sessionize]] gap rule), render each
   * session's ordered event-type sequence as one path string, and
   * rank the `topK` most frequent paths — the "what do users actually
   * do" product-analytics staple.
   *
   * Pinned: within a session, events order by (`tsCol`, `tieCol`)
   * ([[positioned]] rows, so a null tie is dropped before sessions
   * form); sessions longer than `maxLen` events are DROPPED (not
   * truncated — a truncated path is a different path, and unbounded
   * sessions are bot traffic); rank over (n desc, path asc).
   *
   * Scale posture: one actor-keyed shuffle carries the session window
   * AND the per-session path aggregate; path counts are map-side
   * combined; only distinct paths reach the rank window.
   */
  def frequentPaths(df: DataFrame, actorCol: String, tsCol: String,
                    tieCol: String, stateCol: String, gapMicros: Long,
                    maxLen: Int = 20, topK: Int = 50): DataFrame = {
    require(maxLen >= 1 && topK >= 1, "maxLen and topK must be positive")
    val sess = graft.agg.GroupBy.sessionize(
      positioned(df, Seq(actorCol), tsCol, tieCol, Seq(stateCol)),
      Seq(actorCol), tsCol, gapMicros, out = "__sess")
    val paths = sortedSeries(sess, Seq(actorCol, "__sess"), tsCol, tieCol,
        Nil, col(stateCol).cast("string").as("s"))
      .filter(col("__n") <= maxLen)
      .select(array_join(transform(col("__l"), x => x.getField("s")), ">")
        .as("path"))
    paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path").asc)).cast("long"))
      .filter(col("rank") <= topK)
  }

  /**
   * Gap detection over an integer sequence (missing id ranges,
   * skipped invoice numbers — the completeness audit): for every
   * adjacent pair of distinct present values with a hole between
   * them, one row (`prev_val`, `next_val`, gap_start, gap_end,
   * gap_len).
   *
   * Scale posture: per-`keys` this is one key-shuffled window. The
   * global form (`keys = Nil`) needs a total order — a single-task
   * sort, right to ~10^8 distinct values; past that, range-partition
   * and reconcile partition boundaries.
   */
  def gaps(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(seqCol))
    df.filter(col(seqCol).isNotNull)
      .select((keys :+ seqCol).map(col): _*).distinct()
      .withColumn("__next", lead(col(seqCol), 1).over(w))
      .filter(col("__next").isNotNull && col("__next") - col(seqCol) > 1)
      .select(keys.map(col) ++ Seq(
        col(seqCol).as("prev_val"), col("__next").as("next_val"),
        (col(seqCol) + 1).as("gap_start"), (col("__next") - 1).as("gap_end"),
        (col("__next") - col(seqCol) - 1).as("gap_len")): _*)
  }

  /**
   * Period-over-period movers: per (key, `date_trunc(unit)` bucket),
   * the exact-decimal total and its delta / percent change against
   * the key's PREVIOUS PRESENT bucket (`lag` over the bucket grain —
   * a missing period is skipped, not zero-filled; compose with
   * [[resampleFill]] first when gaps must read as zero). The
   * week-over-week dashboard primitive.
   *
   * Pinned: totals are DECIMAL(18,2) sums (exact, order-free),
   * surfaced as doubles; `pct_change = (cur − prev) / prev`, null
   * when there is no previous bucket or `prev = 0`.
   *
   * One shuffle on the keys; the lag window runs over the tiny
   * (key, bucket) relation.
   */
  def periodOverPeriod(df: DataFrame, keys: Seq[String], tsCol: String,
                       valueCol: String, unit: String): DataFrame = {
    require(keys.nonEmpty, "periodOverPeriod needs key columns")
    val agg = df
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(keys.map(col) :+
        date_trunc(unit, col(tsCol)).as("period"): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).as("__s"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("period"))
    val cur = col("__s").cast("double")
    val prev = lag(col("__s"), 1).over(w).cast("double")
    agg
      .withColumn("total", cur)
      .withColumn("prev_total", prev)
      .withColumn("delta", cur - prev)
      .withColumn("pct_change",
        when(prev.isNotNull && prev =!= 0.0, (cur - prev) / prev))
      .drop("__s")
  }

  /**
   * Lag-feature matrix for sequence models: per key, the previous
   * `lags` values of `valueCol` as `<value>_lag<n>` columns — the
   * autoregressive feature block (one window, N `lag()` expressions,
   * no self-joins). Rows order by (`tsCol`, `tieCol`); heads with
   * fewer than n predecessors carry nulls. Rows with a null key, ts
   * or tie are dropped ([[positioned]]); a null value stays and lags
   * as null.
   */
  def lagFeatures(df: DataFrame, keys: Seq[String], tsCol: String,
                  tieCol: String, valueCol: String,
                  lags: Seq[Int]): DataFrame = {
    require(keys.nonEmpty, "lagFeatures needs key columns")
    require(lags.nonEmpty && lags.forall(_ >= 1), s"lags must be >= 1: $lags")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    lags.foldLeft(positioned(df, keys, tsCol, tieCol, Nil)) { (acc, n) =>
      acc.withColumn(s"${valueCol}_lag$n", lag(col(valueCol), n).over(w))
    }
  }

  /**
   * Anchored-gap keep filter (recrawl/refresh policy): keep an event
   * iff at least `minGapMicros` elapsed since the key's LAST KEPT
   * event — the "re-fetch a URL at most weekly" rule. This differs
   * from [[throttle]] (burst HEADS, where bursts chain by
   * inter-event gap): anchoring to the kept event means a slow drip
   * of sub-gap events still re-admits one per gap window, where
   * throttle would swallow the whole chain.
   *
   * Anchoring is inherently recursive (which events are kept depends
   * on which were kept), so each key folds its [[sortedSeries]] list
   * through an in-group array build — the [[ewma]] mechanics and
   * envelope. Rows with a null key, ts or tie are dropped
   * ([[positioned]]). Output: the kept rows as (keys…, `tieCol`,
   * `tsCol`).
   */
  def anchoredThrottle(df: DataFrame, keys: Seq[String], tsCol: String,
                       tieCol: String, minGapMicros: Long): DataFrame = {
    require(keys.nonEmpty, "anchoredThrottle needs key columns")
    require(minGapMicros >= 0, s"minGapMicros must be >= 0: $minGapMicros")
    sortedSeries(df, keys, tsCol, tieCol, Nil,
        unix_micros(col(tsCol)).as("u"))
      // fold: acc = array of kept (micros t, i, orig); keep iff first
      // or u >= last_kept.t + gap
      .withColumn("__k", aggregate(col("__l"),
        array().cast("array<struct<t:bigint,i:bigint,orig:timestamp>>"),
        (acc, x) => when(size(acc) === 0 ||
          x.getField("u") >= element_at(acc, -1).getField("t") + minGapMicros,
          concat(acc, array(struct(x.getField("u").as("t"),
            x.getField("i").cast("long").as("i"),
            x.getField("t").as("orig"))))).otherwise(acc)))
      .select(keys.map(col) :+ explode(col("__k")).as("__e"): _*)
      .select(keys.map(col) :+ col("__e.i").as(tieCol) :+
        col("__e.orig").as(tsCol): _*)
  }

  /**
   * Level-shift (change-point) score per event: the difference between
   * the mean of the NEXT `w` values and the mean of the PREVIOUS `w`
   * values in the key's (`tsCol`, `tieCol`)-ordered series — the
   * two-sided sliding-window detector (CUSUM's windowed cousin; a step
   * change of height h scores ≈ h at the step and decays over w rows).
   * Rows without a FULL window on both sides score null (a half-window
   * mean is a boundary artifact, not evidence).
   *
   * Pinned arithmetic: both window sums are exact DECIMAL(18,2) sums;
   * the score is `cast(after_sum − before_sum as double) / w` — one
   * exact integer-grid subtraction, one IEEE division, so any engine
   * reproduces it bit-exactly (two separate sum/w divisions would put
   * two roundings in the way).
   *
   * Rows with a null key, ts, tie or value are dropped
   * ([[positioned]]).
   *
   * Output: (keys…, `tieCol`, `tsCol`, `valueCol`, `shift`).
   *
   * Scale posture: ONE key-partitioned exchange carries the sort and
   * both frames; per-row state is the 2w-row frame, independent of
   * series length. Keys = entities (a device, a metric stream). For a
   * single giant global series, range-partition the time axis and
   * overlap by w rows instead.
   */
  def levelShift(df: DataFrame, keys: Seq[String], tsCol: String,
                 tieCol: String, valueCol: String, w: Int): DataFrame = {
    require(keys.nonEmpty, "levelShift needs key columns")
    require(w >= 1, s"window must be >= 1, got $w")
    val wp = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val dec = col(valueCol).cast("decimal(18,2)")
    val before = wp.rowsBetween(-w, -1)
    val after = wp.rowsBetween(1, w)
    positioned(df, keys, tsCol, tieCol, Seq(valueCol))
      .withColumn("__sb", sum(dec).over(before))
      .withColumn("__nb", count(lit(1)).over(before))
      .withColumn("__sa", sum(dec).over(after))
      .withColumn("__na", count(lit(1)).over(after))
      .withColumn("shift",
        when(col("__nb") === w && col("__na") === w,
          (col("__sa") - col("__sb")).cast("double") / lit(w.toDouble)))
      .select(keys.map(col) ++ Seq(col(tieCol), col(tsCol), col(valueCol),
        col("shift")): _*)
  }

  /** Whole-unit offset between two `date_trunc(unit)` buckets, as an
   *  exact long — epoch-second difference divided by the unit length
   *  for fixed-width units; month arithmetic for calendar units. */
  private def offsetExpr(unit: String, from: Column, to: Column): Column =
    unit.toLowerCase match {
      case "month" =>
        ((year(to) - year(from)) * 12L + (month(to) - month(from))).cast("long")
      case "year" => (year(to) - year(from)).cast("long")
      case u =>
        val secs = unitSeconds.getOrElse(u, throw new IllegalArgumentException(
          s"unsupported retention unit: $u"))
        ((unix_timestamp(to) - unix_timestamp(from)) / secs).cast("long")
    }

  /**
   * Lagged cross-correlation per group: Pearson r between `xCol` at
   * time t and `yCol` at time t+lag, for every lag 0…`maxLag` — the
   * lead/lag detector ("do signups today predict purchases in three
   * days?"). Feed one row per (keys, `tCol`) on an integer time
   * index; gaps are fine — a (t, t+lag) pair only scores when both
   * rows exist (the join semantics; densify with [[resampleFill]]
   * upstream if zero-fill semantics are wanted instead).
   *
   * [[graft.agg.Stats]] discipline: moments are exact decimal sums on
   * the `xScale`/`yScale` grids; the closing correlation is the
   * pinned pearson composition. Lag 0 is the plain correlation —
   * its r validates the machinery.
   *
   * Output: (keys…, lag, n, corr); groups×(maxLag+1) rows, null corr
   * where variance vanishes or fewer than 2 pairs align.
   *
   * Scale posture: the series relation is checkpointed (x side
   * explodes maxLag+1 shifted copies, y side reads it once more);
   * the alignment is an EQUI join on (keys, shifted t); moments
   * aggregate map-side per (keys, lag).
   */
  def laggedCrossCorr(df: DataFrame, keys: Seq[String], tCol: String,
                      xCol: String, yCol: String, maxLag: Int,
                      xScale: Int = 2, yScale: Int = 2): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    val base = df
      .filter(col(tCol).isNotNull && col(xCol).isNotNull &&
        col(yCol).isNotNull)
      .select(keys.map(col) :+ col(tCol).cast("long").as("__t") :+
        col(xCol).cast(s"decimal(18,$xScale)").as("__x") :+
        col(yCol).cast(s"decimal(18,$yScale)").as("__y"): _*)
      .localCheckpoint(false)
    val left = base
      .withColumn("lag", explode(sequence(lit(0), lit(maxLag))))
      .withColumn("__tt", col("__t") + col("lag"))
      .select(keys.map(col) :+ col("lag") :+ col("__tt") :+ col("__x"): _*)
    val right = base
      .select(keys.map(col) :+ col("__t").as("__tt") :+ col("__y"): _*)
    val j = left.join(right, keys :+ "__tt")
    val m = Moments.closing()
    Moments.collapse(j.groupBy(keys.map(col) :+ col("lag"): _*),
        col("__x"), col("__y"))
      .select(keys.map(col) ++ Seq(col("lag"), col("__n").as("n"),
        when(col("__n") >= 2 && m.vx > 0 && m.vy > 0, m.corr).as("corr")): _*)
  }

  /**
   * Rolling Pearson correlation per key: at every row, the
   * correlation of (`xCol`, `yCol`) over the trailing `window` ROWS
   * ordered by (`tCol`, `tieCol`) — the co-movement monitor ("are
   * these two metrics still coupled this week?"). The leading
   * `window − 1` rows of each key emit null (no full frame).
   *
   * [[graft.agg.Stats]] discipline in a moving frame: all five
   * moments are DECIMAL window sums over the exact value grids, the
   * closing correlation is the pinned pearson composition per row —
   * the same answer at any partitioning, engine, or frame
   * evaluation order (a streaming covariance recurrence would drift
   * by accumulation order; frame sums don't). `tieCol` must make
   * (tCol, tieCol) unique per key (the q207 total-order rule).
   *
   * Output: input keys + (tCol, tieCol, x, y, corr).
   *
   * Scale posture: ONE key exchange; all five moment sums share one
   * sort and one frame.
   */
  def rollingCorr(df: DataFrame, keys: Seq[String], tCol: String,
                  tieCol: String, xCol: String, yCol: String,
                  window: Int, xScale: Int = 2, yScale: Int = 2)
  : DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val x = col(xCol).cast(s"decimal(18,$xScale)")
    val y = col(yCol).cast(s"decimal(18,$yScale)")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tCol), col(tieCol))
      .rowsBetween(-(window - 1), Window.currentRow)
    val base = df
      .filter(col(tCol).isNotNull && col(xCol).isNotNull &&
        col(yCol).isNotNull)
      .select(keys.map(col) :+ col(tCol) :+ col(tieCol) :+
        x.as("__x") :+ y.as("__y"): _*)
    val withM = Moments.sums(col("__x"), col("__y")).foldLeft(base) {
      case (acc, (name, c)) => acc.withColumn(name, c.over(w))
    }
    val m = Moments.closing()
    val timeCols =
      if (tieCol == tCol) Seq(col(tCol)) else Seq(col(tCol), col(tieCol))
    withM.select(keys.map(col) ++ timeCols ++ Seq(
      col("__x").as("x"), col("__y").as("y"),
      when(col("__n") === window && m.vx > 0 && m.vy > 0, m.corr)
        .as("corr")): _*)
  }

  /**
   * Interval-union coverage per key: the total length of the UNION of
   * (possibly overlapping) `[startCol, endCol)` intervals — machine
   * uptime from overlapping heartbeat leases, user active time from
   * overlapping sessions, SLA coverage from redundant monitors. The
   * naive `sum(end − start)` double-counts every overlap; this is the
   * one-pass sweep that doesn't.
   *
   * Sweep as a window: intervals sort by (start, end); each row
   * contributes `max(0, end − max(start, maxEndBefore))` where
   * `maxEndBefore` is the running max of END over the preceding rows
   * — overlap with everything already swept is clipped off exactly.
   * All integer microsecond arithmetic; equal (start, end) duplicates
   * contribute 0 on their second appearance (value-identity — no
   * row-order ambiguity). Intervals with `end ≤ start` are dropped.
   * `n_segments` counts the gaps-and-islands segments (rows starting
   * strictly after everything before them ended).
   *
   * Output: (keys…, n_intervals, covered_micros, n_segments).
   *
   * Scale posture: ONE key exchange; the sweep window and the closing
   * aggregate share its sort.
   */
  def intervalCoverage(df: DataFrame, keys: Seq[String], startCol: String,
                       endCol: String): DataFrame = {
    val s = col(startCol).cast("long")
    val e = col(endCol).cast("long")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__s"), col("__e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val swept = df
      .filter(col(startCol).isNotNull && col(endCol).isNotNull && e > s)
      .select(keys.map(col) :+ s.as("__s") :+ e.as("__e"): _*)
      .withColumn("__before", max(col("__e")).over(w))
      .withColumn("__covered",
        greatest(lit(0L),
          col("__e") - greatest(col("__s"), coalesce(col("__before"),
            col("__s")))))
      .withColumn("__newseg",
        when(col("__before").isNull || col("__s") > col("__before"), 1L)
          .otherwise(0L))
    swept.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("__covered")).as("covered_micros"),
        sum(col("__newseg")).as("n_segments"))
  }

  /**
   * Classical additive seasonal decomposition of a regular integer
   * series: `v = trend + seasonal + remainder`, with trend the
   * centered `period`-term moving average, seasonal the per-phase
   * (e.g. day-of-week) mean of the detrended series, and remainder
   * what's left — the "is Monday always low, or is THIS Monday
   * anomalous?" primitive for volume monitoring.
   *
   * Engine-exact arithmetic: the inputs are integer counts at integer
   * time steps, so the detrended value `v − trend` is the rational
   * `(p·v − Σ_window v)/p` — the implementation carries the integer
   * numerator `dt_p = p·v − Σv` exactly, making the seasonal mean
   * `Σ dt_p / (p·count)` ONE pinned IEEE division and the remainder a
   * single subtraction of two such pinned doubles. No double is ever
   * summed; every engine reproduces every bit. Rows without a full
   * centered window (the first/last `period/2` points) get null
   * trend/seasonal contribution excluded and null outputs.
   *
   * Requirements: one row per (keys, t) at CONSECUTIVE integer t
   * (pre-aggregate upstream; gaps silently widen the window's span —
   * the moving average is over ROWS). `period` must be odd (the
   * centered window is symmetric; classical even-period decomposition
   * needs the 2×MA variant — pre-smooth upstream if you need 12).
   *
   * Output: (keys…, t, v, trend, seasonal, remainder).
   *
   * Scale posture: one key exchange carries the centered-window sum;
   * the phase means ride a second (keys, phase) exchange of
   * constant-width partials; remainder closes rowwise on the join of
   * the two — both relations are series-sized, keys partition them.
   */
  def seasonalDecompose(df: DataFrame, keys: Seq[String], tCol: String,
                        vCol: String, period: Int = 7): DataFrame = {
    require(period >= 3 && period % 2 == 1,
      s"period must be odd and >= 3, got $period")
    val half = period / 2
    val t = col(tCol).cast("long")
    val v = col(vCol).cast("long")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t")).rowsBetween(-half, half)
    val base = df
      .filter(t.isNotNull && v.isNotNull)
      .select(keys.map(col) :+ t.as("__t") :+ v.as("__v"): _*)
      .withColumn("__wn", count(lit(1)).over(w))
      .withColumn("__ws", sum(col("__v")).over(w))
      // integer numerator of (v − trend)·period; null without a full
      // centered window
      .withColumn("__dtp",
        when(col("__wn") === period,
          lit(period.toLong) * col("__v") - col("__ws")))
      .withColumn("__phase", pmod(col("__t"), lit(period.toLong)))
    val pw = Window.partitionBy((keys.map(col) :+ col("__phase")): _*)
    val pd = lit(period.toDouble)
    val seasonal =
      sum(col("__dtp")).over(pw).cast("double") /
        (pd * count(col("__dtp")).over(pw).cast("double"))
    val trend = col("__ws").cast("double") / pd
    val detrended = col("__dtp").cast("double") / pd
    base.select(keys.map(col) ++ Seq(
      col("__t").as(tCol), col("__v").as(vCol),
      when(col("__wn") === period, trend).as("trend"),
      when(col("__wn") === period, seasonal).as("seasonal"),
      when(col("__wn") === period, detrended - seasonal)
        .as("remainder")): _*)
  }

  /**
   * Bollinger bands over an integer series: rolling mean ± `k`
   * sample standard deviations on a trailing `window`-row frame, plus
   * breach flags — the volatility-envelope monitor ("is today's
   * volume outside its recent band?").
   *
   * Same discipline as [[rollingCorr]]: the frame's Σv and Σv² are
   * exact integer sums (longs — see envelope), and the closing chain
   * is pinned IEEE: `mean = s/n`, `var = (n·ss − s²)/(n·(n−1))`,
   * `sd = sqrt(var)`, `upper/lower = mean ± k·sd`. Comparisons of
   * identically-computed doubles make the breach flags
   * engine-identical too. Warmup rows (frame shorter than `window`)
   * emit nulls.
   *
   * Envelope: `n·Σv²` must fit a long — |v| to ~3e7 at window 10^4.
   * Wider values: rescale upstream (the bands are scale-equivariant).
   *
   * Output: (keys…, t, v, mean, sd, upper, lower, breach_hi,
   * breach_lo).
   *
   * Scale posture: ONE key exchange; both frame sums and the closing
   * ride its sort.
   */
  def bollinger(df: DataFrame, keys: Seq[String], tCol: String,
                vCol: String, window: Int = 20, k: Double = 2.0)
  : DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val t = col(tCol).cast("long")
    val v = col(vCol).cast("long")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t")).rowsBetween(-(window - 1), Window.currentRow)
    val base = df
      .filter(t.isNotNull && v.isNotNull)
      .select(keys.map(col) :+ t.as("__t") :+ v.as("__v"): _*)
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s", sum(col("__v")).over(w))
      .withColumn("__ss", sum(col("__v") * col("__v")).over(w))
    val nd = col("__n").cast("double")
    val sd0 = col("__s").cast("double")
    val ssd = col("__ss").cast("double")
    val mean = sd0 / nd
    val variance = (nd * ssd - sd0 * sd0) / (nd * (nd - lit(1.0)))
    val sd = sqrt(variance)
    val vd = col("__v").cast("double")
    val full = col("__n") === window
    val upper = mean + lit(k) * sd
    val lower = mean - lit(k) * sd
    base.select(keys.map(col) ++ Seq(
      col("__t").as(tCol), col("__v").as(vCol),
      when(full, mean).as("mean"),
      when(full, sd).as("sd"),
      when(full, upper).as("upper"),
      when(full, lower).as("lower"),
      when(full, vd > upper).as("breach_hi"),
      when(full, vd < lower).as("breach_lo")): _*)
  }
  /**
   * OHLC + VWAP candle aggregation: per (keys, time bucket) — open =
   * first value, high/low, close = last value, volume, and the
   * volume-weighted average price — the market-data / metrics
   * downsampling staple.
   *
   * Open/close are first/last by `(tCol, tieCol)` — a total order
   * when tieCol is unique per key (the q207 discipline), computed as
   * min/max of a (time, tie, value-as-struct) ordering so they ride
   * the SAME single aggregation as high/low (no window pass, no
   * second exchange). VWAP = Σ(p·v)/Σv over exact decimal products
   * (price scale 2 × volume scale 2), one pinned closing division;
   * zero total volume → null vwap.
   *
   * Output: (keys…, bucket, n, open, high, low, close, volume, vwap)
   * — prices double, volume double (the exact decimal sums cast
   * once).
   *
   * Scale posture: ONE map-side-combined aggregation to the candle
   * grid. Nothing row-sized survives.
   */
  def ohlc(df: DataFrame, keys: Seq[String], tCol: String, tieCol: String,
           priceCol: String, volumeCol: String, bucket: String = "hour")
  : DataFrame = {
    val p = col(priceCol).cast("decimal(18,2)")
    val v = col(volumeCol).cast("decimal(18,2)")
    val base = df.filter(col(tCol).isNotNull && col(priceCol).isNotNull &&
        col(volumeCol).isNotNull)
      .select(keys.map(col) :+ date_trunc(bucket, col(tCol)).as("bucket") :+
        struct(col(tCol).as("t"), col(tieCol).as("tie"), p.as("p"))
          .as("__o") :+ p.as("__p") :+ v.as("__v"): _*)
    val m = base.groupBy(keys.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n"),
        min(col("__o")).as("__first"), max(col("__o")).as("__last"),
        max(col("__p")).as("__hi"), min(col("__p")).as("__lo"),
        sum(col("__v")).as("__vol"),
        sum((col("__p") * col("__v")).cast("decimal(38,4)")).as("__pv"))
    m.select(keys.map(col) ++ Seq(col("bucket"), col("n"),
      col("__first.p").cast("double").as("open"),
      col("__hi").cast("double").as("high"),
      col("__lo").cast("double").as("low"),
      col("__last.p").cast("double").as("close"),
      col("__vol").cast("double").as("volume"),
      when(col("__vol") > 0,
        col("__pv").cast("double") / col("__vol").cast("double"))
        .as("vwap")): _*)
  }

  /**
   * Period-over-period comparison per key: bucketed aggregates with
   * their previous-period values, deltas and percent changes — the
   * WoW/MoM reporting table every dashboard recomputes. `prev_*` is
   * the previous EXISTING bucket (lag over the key's bucket order),
   * so gap periods compare against the last observed one — the
   * convention that never divides by a phantom zero period.
   *
   * Exact decimal sums; `pct_change = (cur − prev)/prev` is one
   * pinned IEEE chain, null when there is no previous bucket or its
   * sum is 0.
   *
   * Output: (keys…, bucket, n, total, prev_total, delta, pct_change).
   *
   * Scale posture: one map-side-combined (keys, bucket) collapse; the
   * lag window rides a keys-exchange over the collapsed grid
   * (|buckets| rows per key, never the corpus).
   */
  def periodOverPeriod(df: DataFrame, keys: Seq[String], tsCol: String,
                       valueCol: String, unit: String,
                       valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "periodOverPeriod needs key columns")
    val v = col(valueCol).cast(s"decimal(18,$valueScale)")
    val g = df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(keys.map(col) :+ date_trunc(unit, col(tsCol)).as("bucket"): _*)
      .agg(count(lit(1)).as("n"), sum(v).as("__s"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("bucket"))
    val prev = lag(col("__s"), 1).over(w)
    g.select(keys.map(col) ++ Seq(col("bucket"), col("n"),
      col("__s").cast("double").as("total"),
      prev.cast("double").as("prev_total"),
      (col("__s") - prev).cast("double").as("delta"),
      when(prev.isNotNull && prev =!= 0,
        (col("__s") - prev).cast("double") / prev.cast("double"))
        .as("pct_change")): _*)
  }

  /**
   * Cohort LTV curve: users cohorted by their FIRST activity period,
   * then average cumulative value per cohort member at each cohort
   * age — the "how much is a January signup worth by month 6" table
   * ([[retentionCohorts]]'s revenue sibling; retention answers "are
   * they still here", this answers "what are they worth").
   *
   * `ltv = cumulative revenue / cohort size` divides by the FULL
   * cohort (not just still-active users) — the standard definition,
   * so the curve is monotone and reads as per-acquired-user value.
   * Ages with no activity anywhere in a cohort simply don't emit (a
   * gap reads as flat; densify with [[resampleFill]] if needed).
   *
   * Exact decimal revenue; the cumulative sum runs over the
   * (cohort, age) grid in decimal and casts once.
   *
   * Output: (cohort, age, n_active, revenue, cum_revenue,
   * cohort_size, ltv).
   *
   * Scale posture: one actor window for the cohort stamp, one
   * map-side (cohort, age) collapse, then the cumulative window and
   * the size join ride the collapsed grid (|cohorts × ages| rows).
   */
  def cohortLtv(df: DataFrame, actorCol: String, tsCol: String,
                valueCol: String, unit: String,
                valueScale: Int = 2): DataFrame = {
    val w = Window.partitionBy(col(actorCol))
    val v = col(valueCol).cast(s"decimal(18,$valueScale)")
    val base = df.filter(col(actorCol).isNotNull && col(tsCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(actorCol), date_trunc(unit, col(tsCol)).as("__bucket"),
        v.as("__v"))
      .withColumn("cohort", min(col("__bucket")).over(w))
      .withColumn("age", offsetExpr(unit, col("cohort"), col("__bucket")))
      .localCheckpoint(false)
    val sizes = base.filter(col("age") === 0L)
      .groupBy("cohort")
      .agg(countDistinct(col(actorCol)).as("cohort_size"))
    val grid = base.groupBy(col("cohort"), col("age"))
      .agg(countDistinct(col(actorCol)).as("n_active"),
        sum(col("__v")).as("__rev"))
    val cumW = Window.partitionBy(col("cohort")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("__cum", sum(col("__rev")).over(cumW))
      .join(sizes, Seq("cohort"))
      .select(col("cohort"), col("age"), col("n_active"),
        col("__rev").cast("double").as("revenue"),
        col("__cum").cast("double").as("cum_revenue"),
        col("cohort_size"),
        (col("__cum").cast("double") /
          col("cohort_size").cast("double")).as("ltv"))
  }

  /**
   * Top user journeys: the k most common ordered event-type PATHS
   * over gap-sessionized activity — "view > view > click > purchase",
   * the product-analytics Sankey feed. Sessions split on `gapSeconds`
   * of inactivity ([[graft.agg.GroupBy.sessionize]]); each session's
   * path is its first `maxLen` events' types in (ts, tie) order
   * joined by `" > "`; paths rank by session count with the path
   * string as tie-break (total order). Rows with a null actor, ts,
   * tie or type are dropped ([[positioned]]).
   *
   * Output: (path, n_sessions, rank), rank 1..k.
   *
   * Scale posture: the session window and the in-session rank ride
   * ONE actor exchange; the path collapse is (actor, session)-keyed,
   * the count collapse map-side combines on the path string, and the
   * global top-k cut is a WindowGroupLimit over a single partition of
   * |distinct paths ≤ maxLen| rows — bounded by event-type^maxLen,
   * not by sessions.
   */
  def topPaths(df: DataFrame, actorCol: String, tsCol: String,
               tieCol: String, typeCol: String, gapSeconds: Long,
               maxLen: Int, k: Int): DataFrame = {
    require(maxLen > 0 && k > 0, "topPaths needs maxLen > 0 and k > 0")
    val base = positioned(df, Seq(actorCol), tsCol, tieCol, Seq(typeCol))
    val sess = graft.agg.GroupBy.sessionize(base, Seq(actorCol), tsCol,
      gap = gapSeconds * 1000000L, out = "__sess")
    val wIn = Window.partitionBy(col(actorCol), col("__sess"))
      .orderBy(col(tsCol), col(tieCol))
    val paths = sess
      .withColumn("__rn", row_number().over(wIn))
      .filter(col("__rn") <= maxLen)
      .groupBy(col(actorCol), col("__sess"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col(tsCol).as("t"),
          col(tieCol).as("tie"), col(typeCol).as("s")))),
        e => e.getField("s")), " > ").as("path"))
    val counts = paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
    counts
      .withColumn("rank", row_number().over(Window
        .orderBy(col("n_sessions").desc, col("path").asc)))
      .filter(col("rank") <= k)
  }

  /**
   * Rolling OLS slope per key: at every row, the least-squares trend
   * of the value over the trailing `window` observations — the
   * "rolling beta" / local-trend primitive behind momentum features
   * and drift dashboards, done WITHOUT per-row refits: the five OLS
   * moments (n, Σx, Σy, Σxy, Σx²) are all LINEAR window sums over
   * the same trailing frame, and the slope closes per row in one
   * pinned chain `(nΣxy − ΣxΣy) / (nΣx² − (Σx)²)`.
   *
   * x is the ROW INDEX within the key (the per-key observation
   * number) — evenly-spaced regression, the standard rolling-trend
   * reading; y snaps to the 10⁻² grid and is carried in integer
   * CENTS, so every window sum is EXACT int64 arithmetic in any
   * engine (windowed decimal sums are not: the q281 lesson) and only
   * the closing division is float. Rows earlier than `window`
   * observations regress over what exists; single-row windows (and
   * any zero-variance x, impossible for distinct indexes but guarded
   * anyway) emit null.
   *
   * Output: (keys…, tsCol, idCol, value double, `slope` double —
   * slope in value units per observation step).
   *
   * Scale posture: ONE key exchange carries the row-index window and
   * all five moment frames (identical partitioning + ordering +
   * frame ⇒ one Window operator); per-key cost O(n), frame-size
   * independent.
   */
  def rollingSlope(df: DataFrame, keys: Seq[String], tsCol: String,
                   idCol: String, valueCol: String, window: Int)
  : DataFrame = {
    require(keys.nonEmpty, "rollingSlope needs key columns")
    require(window >= 2, s"window must be >= 2, got $window")
    val yc = (col(valueCol).cast("decimal(18,2)") *
      lit(100L).cast("decimal(18,0)")).cast("long")
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(idCol))
    val fr = ord.rowsBetween(-(window - 1L), Window.currentRow)
    val base = df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .withColumn("__x", row_number().over(ord).cast("long"))
      .withColumn("__yc", yc)
    val n = count(lit(1)).over(fr).cast("double")
    val sx = sum(col("__x")).over(fr).cast("double")
    val sy = sum(col("__yc")).over(fr).cast("double")
    val sxy = sum(col("__x") * col("__yc")).over(fr).cast("double")
    val sxx = sum(col("__x") * col("__x")).over(fr).cast("double")
    val den = n * sxx - sx * sx
    val slope = (n * sxy - sx * sy) / den / lit(100.0)
    base.select(keys.map(col) ++ Seq(col(tsCol), col(idCol),
      (col("__yc").cast("double") / lit(100.0)).as("value"),
      when(den > 0.0, slope).as("slope")): _*)
  }

  /**
   * GAP-CONSTRAINED ordered funnel: [[funnel]] with a `maxGap` bound
   * between consecutive steps — "view → click within an hour →
   * purchase within an hour of that", the form conversion analysis
   * actually needs (an unconstrained funnel credits a purchase to a
   * view from last month).
   *
   * Same one-exchange window formulation as [[funnel]], with the
   * running-MIN marker replaced by a running MAX: a step-i event
   * qualifies iff the LATEST chain-valid step-(i−1) completion
   * at-or-before it is within `maxGap` — "latest ≥ ts − gap" is
   * exactly "∃ one in the window", so the existence test needs only
   * one extra comparison per step. RANGE frames include
   * equal-timestamp peers (a same-instant prior step counts, the
   * [[funnel]] tie convention), and every step's windows ride the
   * SAME actor exchange.
   *
   * Output: actor, `step1_ts` … `stepN_ts` — the FIRST chain-valid
   * completion per step (null where never reached) — and `stage`.
   *
   * Scale posture: identical to [[funnel]] — one actor exchange, N
   * running windows on it, one closing reduce.
   */
  def funnelWithin(df: DataFrame, actorCol: String, tsCol: String,
                   typeCol: String, steps: Seq[String],
                   maxGapSeconds: Long): DataFrame = {
    require(steps.nonEmpty, "funnelWithin needs at least one step")
    require(maxGapSeconds > 0, "maxGapSeconds must be positive")
    val w = Window.partitionBy(col(actorCol)).orderBy(col(tsCol))
    val gapUs = maxGapSeconds * 1000000L
    val base = df
      .filter(col(actorCol).isNotNull && col(tsCol).isNotNull)
      .select(col(actorCol), col(tsCol), col(typeCol))
    val quals = steps.indices.foldLeft(base) { (acc, i) =>
      val isStep = col(typeCol) === steps(i)
      val q =
        if (i == 0) when(isStep, col(tsCol))
        else {
          val latestPrev = max(col(s"__q${i - 1}")).over(w)
          when(isStep && latestPrev.isNotNull &&
            unix_micros(latestPrev) >= unix_micros(col(tsCol)) - gapUs,
            col(tsCol))
        }
      acc.withColumn(s"__q$i", q)
    }
    val aggCols = steps.indices.map(i =>
      min(col(s"__q$i")).as(s"step${i + 1}_ts"))
    val agg = quals.groupBy(col(actorCol).as("actor"))
      .agg(aggCols.head, aggCols.tail: _*)
    // forward fold so the OUTERMOST when tests the highest step —
    // the built expression reads when(stepN…, N).otherwise(… step1)
    val stage = steps.indices.foldLeft(lit(0)) { (acc, i) =>
      when(col(s"step${i + 1}_ts").isNotNull, lit(i + 1)).otherwise(acc)
    }
    agg.withColumn("stage", stage)
  }

  /**
   * Time-weighted average value (TWAP) per key per `unit` bucket: each
   * tick's value holds until the NEXT tick (or the bucket's end), and
   * the bucket's average weighs values by holding time — the fair
   * average for irregularly-spaced quotes, where a plain mean
   * over-counts bursts ("900 ms at 10.0 then 100 ms at 99.0 is 18.9,
   * not 54.5").
   *
   * Contract: the window starts at each bucket's FIRST tick (no
   * carry-in from the previous bucket — compose with
   * [[resampleFill]]/as-of upstream if you need the prevailing quote
   * at bucket open); ticks sharing a timestamp contribute zero
   * holding time except the last in (tsCol, tieCol) order.
   *
   * Engine-exact: values snap to the 10⁻² grid and are carried in
   * integer cents; holding times are exact integer MICROS; the
   * weighted sum Σ cents·micros accumulates in decimal(38,0) and the
   * closing twap is two pinned divisions. Fixed-width units only
   * (minute/hour/day/week). Rows run through [[positioned]], the
   * filter [[graft.streaming.Streaming.twapStream]] applies.
   *
   * Output: (keys…, bucket timestamp, n_ticks, twap double).
   *
   * Scale posture: ONE (keys, bucket)-keyed exchange carries the lead
   * window and the collapse; per-bucket cost is linear in ticks.
   * (Oracle envelope: Σ cents·micros per bucket under 2⁵³ for
   * bit-exact SQL replay; the engine's decimal cast is correctly
   * rounded at any magnitude.)
   */
  def twap(df: DataFrame, keys: Seq[String], tsCol: String, tieCol: String,
           valueCol: String, unit: String = "hour",
           valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "twap needs key columns")
    val unitMicros = fixedUnitMicros("twap", unit)
    val scaleF = math.pow(10, valueScale)
    val vc = unscaled(col(valueCol), valueScale)
    val base = positioned(df, keys, tsCol, tieCol, Seq(valueCol))
      .withColumn("bucket", date_trunc(unit, col(tsCol)))
      .withColumn("__t", unix_micros(col(tsCol)))
      .withColumn("__vc", vc)
    val w = Window.partitionBy(keys.map(col) :+ col("bucket"): _*)
      .orderBy(col("__t"), col(tieCol))
    val weighted = base
      .withColumn("__w",
        coalesce(lead(col("__t"), 1).over(w),
          unix_micros(col("bucket")) + lit(unitMicros)) - col("__t"))
    weighted.groupBy(keys.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n_ticks"),
        sum(col("__w")).as("__ws"),
        sum((col("__vc") * col("__w")).cast("decimal(38,0)")).as("__vw"))
      .select(keys.map(col) ++ Seq(col("bucket"), col("n_ticks"),
        when(col("__ws") > 0L,
          col("__vw").cast("double") / col("__ws").cast("double") /
            lit(scaleF)).as("twap")): _*)
  }

  /**
   * TWAP with PREVAILING-QUOTE CARRY-IN — [[twap]]'s market-data
   * sibling: a quote persists across bucket boundaries, so a bucket
   * a hold fully spans reports the held price (n_ticks = 0) and a
   * bucket's pre-first-tick span is priced at the previous tick —
   * what a quotes consumer expects, where [[twap]]'s no-carry
   * contract (each bucket prices only its own ticks) is the
   * trades-only reading. Each key's coverage starts at its first
   * tick (no quote to carry before it) and ends at the LAST tick's
   * bucket edge.
   *
   * Engine-exact: cents on the decimal(18,s) grid, integer
   * microsecond segment weights, one closing division per bucket —
   * the [[twap]] arithmetic on hold × bucket SEGMENTS: each hold
   * [tᵢ, tᵢ₊₁) explodes into the buckets it overlaps (a sequence on
   * the bucket grid — output linear in covered buckets, the
   * carry-in's inherent cost) and segments collapse per (keys,
   * bucket). Degenerate all-zero-weight buckets (ticks sharing one
   * microsecond at a bucket edge) emit null twap.
   *
   * Output: (keys…, bucket, n_ticks, twap) — n_ticks counts ticks
   * STARTING in the bucket; carried buckets have n_ticks = 0.
   * Matches [[graft.streaming.Streaming.twapStream]] with
   * `carryIn = true` on every closed bucket (asserted in tests).
   *
   * `maxBucketsPerHold` caps the per-hold explosion: output is linear
   * in covered buckets, but so is the PER-ROW sequence array — a key
   * silent for a year at `unit = "minute"` would build one ~525k-element
   * array before the explode. A hold spanning more buckets than the
   * cap fails fast with the offending span in the message; split long
   * holds upstream (e.g. clamp quote validity, or re-emit the quote
   * periodically) or use a coarser unit.
   *
   * Domain: timestamps at or after the epoch (`ts >= 1970-01-01`).
   * Bucketing uses floor semantics (pmod), matching the stream arm's
   * `floorMod`; an ANSI replay using `%` (truncation toward zero, the
   * DuckDB/standard-SQL reading) diverges on NEGATIVE epoch
   * microseconds — same convention as [[twap]].
   *
   * Scale posture: one key exchange for the global lead window, one
   * map-side (keys, bucket) collapse of the exploded segments.
   */
  def twapCarry(df: DataFrame, keys: Seq[String], tsCol: String,
                tieCol: String, valueCol: String, unit: String = "hour",
                valueScale: Int = 2,
                maxBucketsPerHold: Int = 100000): DataFrame = {
    require(keys.nonEmpty, "twapCarry needs key columns")
    require(maxBucketsPerHold >= 1,
      s"maxBucketsPerHold must be >= 1, got $maxBucketsPerHold")
    val unitMicros = fixedUnitMicros("twapCarry", unit)
    val scaleF = math.pow(10, valueScale)
    val vc = unscaled(col(valueCol), valueScale)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col(tieCol))
    val holds = positioned(df, keys, tsCol, tieCol, Seq(valueCol))
      .withColumn("__t", unix_micros(col(tsCol)))
      .withColumn("__vc", vc)
      .withColumn("__b0", col("__t") - pmod(col("__t"), lit(unitMicros)))
      .withColumn("__e", coalesce(lead(col("__t"), 1).over(w),
        col("__b0") + lit(unitMicros)))
    // last covered bucket start, and the per-hold bucket count the
    // sequence below would materialize — fail fast past the cap
    // instead of building a multi-hundred-k-element array per row
    val lastIb = greatest(col("__b0"),
      (col("__e") - 1L) - pmod(col("__e") - 1L, lit(unitMicros)))
    // SQL `/` is fractional — cast back: the span is an exact
    // multiple of the unit, so the quotient is integral
    val nBuckets =
      ((lastIb - col("__b0")) / lit(unitMicros)).cast("long") + 1L
    val guardedSeq = when(nBuckets > lit(maxBucketsPerHold.toLong),
      raise_error(concat(
        lit("twapCarry: hold starting at "), col(tsCol).cast("string"),
        lit(" spans "), nBuckets.cast("string"),
        lit(s" '$unit' buckets > maxBucketsPerHold=$maxBucketsPerHold; " +
          "split long holds upstream or use a coarser unit")))
        .cast("array<bigint>"))
      .otherwise(sequence(col("__b0"), lastIb, lit(unitMicros)))
    val segs = holds
      .withColumn("__ib", explode(guardedSeq))
      .withColumn("__w", greatest(lit(0L),
        least(col("__e"), col("__ib") + lit(unitMicros)) -
          greatest(col("__t"), col("__ib"))))
    segs.groupBy(keys.map(col) :+ col("__ib"): _*)
      .agg(sum(when(col("__ib") === col("__b0"), 1L).otherwise(0L))
          .as("n_ticks"),
        sum(col("__w")).as("__ws"),
        sum((col("__vc") * col("__w")).cast("decimal(38,0)")).as("__vw"))
      .select(keys.map(col) ++ Seq(
        timestamp_micros(col("__ib")).as("bucket"), col("n_ticks"),
        when(col("__ws") > 0L,
          col("__vw").cast("double") / col("__ws").cast("double") /
            lit(scaleF)).as("twap")): _*)
  }

  /**
   * Best single mean-shift split per key (binary-segmentation step
   * one): the time-ordered position whose before/after partition
   * maximizes the between-group sum of squares
   * `B_i = S_i²/i + (T−S_i)²/(n−i) − T²/n` — the changepoint
   * candidate CUSUM flags but cannot localize, and the building
   * block of recursive segmentation.
   *
   * Engine-exact: values snap to the 10⁻ˢᶜᵃˡᵉ grid, prefix sums are
   * exact decimals on ONE key exchange; each split's B_i closes in a
   * pinned IEEE chain and the argmax takes the EARLIEST position on
   * ties (total order). Splits leave ≥1 row on each side. Gain is
   * reported in value² units. Rows run through [[positioned]].
   *
   * Output: (keys…, n, split_index, split_ts, gain) — split AFTER
   * `split_index` (1-based); keys with n < 2 emit nothing.
   *
   * Scale posture: one key exchange carries the index/prefix windows
   * AND the rank cut (WindowGroupLimit); per-key linear.
   */
  def bestMeanSplit(df: DataFrame, keys: Seq[String], tsCol: String,
                    tieCol: String, valueCol: String,
                    valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "bestMeanSplit needs key columns")
    val v = col(valueCol).cast(s"decimal(18,$valueScale)")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val wk = Window.partitionBy(keys.map(col): _*)
    val base = positioned(df, keys, tsCol, tieCol, Seq(valueCol))
      .withColumn("__i", row_number().over(w).cast("long"))
      .withColumn("__s", sum(v).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(wk))
      .withColumn("__t", sum(v).over(wk))
    val iD = col("__i").cast("double")
    val nD = col("__n").cast("double")
    val sD = col("__s").cast("double")
    val tD = col("__t").cast("double")
    val between = sD * sD / iD +
      (tD - sD) * (tD - sD) / (nD - iD) - tD * tD / nD
    val scored = base.filter(col("__i") < col("__n"))
      .withColumn("gain", between)
      .withColumn("__r", row_number().over(Window
        .partitionBy(keys.map(col): _*)
        .orderBy(col("gain").desc, col("__i").asc)))
      .filter(col("__r") === 1)
    scored.select(keys.map(col) ++ Seq(col("__n").as("n"),
      col("__i").as("split_index"), col(tsCol).as("split_ts"),
      col("gain")): _*)
  }

  /**
   * Page-Hinkley mean-shift detector per key — [[cusum]]'s
   * SELF-CALIBRATING sibling: where CUSUM needs a known target mean,
   * Page-Hinkley tracks deviations from the RUNNING mean, so it
   * detects an upward shift in a series whose baseline was never
   * characterized. `m_t = Σ_{i≤t}(x_i − x̄_i − δ)` with x̄_i the mean
   * of the first i points, `PH_t = m_t − min_{i≤t} m_i`, alarm at the
   * FIRST t with `PH_t > λ` (δ = drift tolerance, λ = threshold, in
   * value units).
   *
   * Engine-exact: values snap to the cent grid; the running mean is
   * ONE division of exact integers per step; the walk folds
   * SEQUENTIALLY in (tsCol, tieCol) order with a five-double state
   * (n, Σcents, m, min m, alarm index) and δ, λ as 10⁻⁹-grid
   * literals — an ANSI engine replays it with list_reduce. The alarm
   * index LATCHES at the first crossing (replay-deterministic).
   *
   * Output: (keys…, n, mean, ph, alarm_at) — one row per key; `ph`
   * is the final m − min m in VALUE units, `alarm_at` the 1-based
   * tick index of the first crossing (null = never crossed), `mean`
   * the key's final running mean.
   *
   * Scale posture: one key exchange; the fold runs over the key's
   * collected series (the [[ewma]] per-entity contract — unbounded
   * streams carry the same five-number state in keyed state).
   */
  def pageHinkley(df: DataFrame, keys: Seq[String], tsCol: String,
                  tieCol: String, valueCol: String, delta: Double,
                  lambda: Double, valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "pageHinkley needs key columns")
    require(lambda > 0, s"lambda must be > 0, got $lambda")
    val scaleF = math.pow(10, valueScale)
    // δ and λ in GRID units, pinned on the 1e-9 grid after scaling
    val d = lit(r9(delta * scaleF)); val lam = lit(r9(lambda * scaleF))
    val vc = unscaled(col(valueCol), valueScale)
    // state [n, sum, m, minM, alarmAt]
    val fold = aggregate(col("__l"),
      array(lit(0.0), lit(0.0), lit(0.0), lit(0.0), lit(0.0)),
      (acc, p) => {
        val n2 = element_at(acc, 1) + lit(1.0)
        val s2 = element_at(acc, 2) + p.getField("x")
        val m2 = element_at(acc, 3) +
          (p.getField("x") - s2 / n2 - d)
        val mn2 = least(element_at(acc, 4), m2)
        val al = when(element_at(acc, 5) > 0.0, element_at(acc, 5))
          .when(m2 - mn2 > lam, n2).otherwise(lit(0.0))
        array(n2, s2, m2, mn2, al)
      })
    val m = (i: Int) => element_at(col("__m"), i)
    sortedSeries(df, keys, tsCol, tieCol, Seq(valueCol),
        vc.cast("double").as("x"))
      .withColumn("__m", fold)
      .select(keys.map(col) ++ Seq(col("__n").as("n"),
        (m(2) / m(1) / lit(scaleF)).as("mean"),
        ((m(3) - m(4)) / lit(scaleF)).as("ph"),
        when(m(5) > 0.0, m(5).cast("long")).as("alarm_at")): _*)
  }

  /**
   * One-sided (upper) CUSUM change-point statistic per key: the
   * classic SPC recurrence `S₀ = 0; Sᵢ = max(0, Sᵢ₋₁ + (xᵢ − μ₀ − k))`
   * with an alarm when `Sᵢ > h` — detects a sustained upward shift of
   * the mean away from target `μ₀` (slack `k` absorbs noise,
   * threshold `h` sets the ARL trade-off). `cusumLower` mirrors it
   * for downward shifts.
   *
   * The recurrence LOOKS inherently sequential, but collapses to two
   * LINEAR window passes via the prefix-sum identity
   * `Sᵢ = Pᵢ − min(P₀..Pᵢ)` where `Pᵢ = Σⱼ≤ᵢ (xⱼ − μ₀ − k)` and
   * `P₀ = 0` (the running min must see the empty prefix: seed it as
   * `min(min(P) over ≤i, 0)`) — so the whole statistic is a running
   * sum plus a running min on ONE key exchange, never an iterative
   * loop or a UDF fold.
   *
   * Engine-exact: x, μ₀ and k snap to the 10⁻² decimal grid, so every
   * prefix sum is EXACT decimal arithmetic — the max/min comparisons
   * and the `> h` alarm test have no float ambiguity anywhere; the
   * one double cast happens at output. Row order inside a key is
   * (tsCol, idCol) — a total order when idCol is unique (the q207
   * discipline); rows run through [[positioned]].
   *
   * Snap convention (ONE convention across batch, stream, and oracle):
   * Spark's double→decimal cast — HALF_UP on the double's SHORTEST
   * decimal representation (2.675 → 2.68). [[graft.streaming.Streaming
   * .cusumStream]] reproduces it bit-exactly via
   * `BigDecimal.valueOf(v).setScale(2, HALF_UP)` (same shortest-string
   * semantics). A DuckDB/ANSI oracle's `CAST(v AS DECIMAL(18,2))`
   * rounds the BINARY value instead (2.675 → 2.67), so engine ≡ oracle
   * is guaranteed only for inputs on (or representably near) the 10⁻²
   * grid — which the gate data is; off-grid corpora should pre-snap.
   *
   * Output: (keys…, tsCol, idCol, value double, `cusum` double,
   * `alarm` boolean).
   *
   * Scale posture: ONE key exchange carries both running windows;
   * per-key cost O(n log n) sort + O(n) frames. A year-long minutely
   * key is 525k rows in one partition — the same envelope as every
   * other per-key window op here; split keys upstream if one key
   * exceeds a task.
   */
  def cusum(df: DataFrame, keys: Seq[String], tsCol: String, idCol: String,
            valueCol: String, target: Double, slack: Double,
            threshold: Double): DataFrame =
    cusumImpl(df, keys, tsCol, idCol, valueCol, target, slack, threshold,
      upper = true)

  /** Lower-sided mirror of [[cusum]]: `S₀ = 0;
   *  Sᵢ = max(0, Sᵢ₋₁ + (μ₀ − k − xᵢ))`, alarm when `Sᵢ > h` — detects
   *  a sustained DOWNWARD shift of the mean. Same two-linear-window
   *  prefix-sum identity, same snap convention, same output shape. */
  def cusumLower(df: DataFrame, keys: Seq[String], tsCol: String,
                 idCol: String, valueCol: String, target: Double,
                 slack: Double, threshold: Double): DataFrame =
    cusumImpl(df, keys, tsCol, idCol, valueCol, target, slack, threshold,
      upper = false)

  private def cusumImpl(df: DataFrame, keys: Seq[String], tsCol: String,
                        idCol: String, valueCol: String, target: Double,
                        slack: Double, threshold: Double,
                        upper: Boolean): DataFrame = {
    require(keys.nonEmpty, "cusum needs at least one key column")
    // the ONE snap convention: Spark double→decimal cast (HALF_UP on
    // the shortest decimal string) — see the scaladoc note on [[cusum]]
    val x = col(valueCol).cast("double").cast("decimal(18,2)")
    val signed =
      if (upper) x - lit(BigDecimal(target).setScale(2)) -
        lit(BigDecimal(slack).setScale(2))
      else lit(BigDecimal(target).setScale(2)) -
        lit(BigDecimal(slack).setScale(2)) - x
    val drift = signed.cast("decimal(38,2)")
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(idCol))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val h = lit(BigDecimal(threshold).setScale(2))
    positioned(df, keys, tsCol, idCol, Seq(valueCol))
      .withColumn("__p", sum(drift).over(run).cast("decimal(38,2)"))
      .withColumn("__m",
        least(min(col("__p")).over(run), lit(BigDecimal(0).setScale(2))))
      .select(keys.map(col) ++ Seq(col(tsCol), col(idCol),
        x.cast("double").as("value"),
        (col("__p") - col("__m")).cast("double").as("cusum"),
        ((col("__p") - col("__m")) > h).as("alarm")): _*)
  }

  /**
   * MACD (moving-average convergence/divergence) per key — the
   * momentum triple on any per-entity metric series:
   * `macd = EMA_fast − EMA_slow`, `signal = EMA_signal(macd)`,
   * `histogram = macd − signal`; sign flips of the histogram are the
   * classic trend-turn events.
   *
   * Engine-exact: each EMA is the [[ewma]] recurrence
   * (`e₀ = x₀`, `eᵢ = eᵢ₋₁ + α(xᵢ − eᵢ₋₁)`) with
   * `α = 2/(span+1)` computed IN-expression (the q327 discipline);
   * the fast and slow arrays fold over ONE sorted in-group list,
   * macd is their elementwise difference (so `macd₀ = x₀ − x₀ = +0`
   * exactly — the signal seed both engines agree on), and the
   * signal line folds the same recurrence over the macd array. An
   * ANSI engine replays every step bit-for-bit as a recursive walk.
   *
   * Output: (keys…, `tieCol`, `tsCol`, `valueCol`, macd, signal,
   * histogram) — one row per input event.
   *
   * Scale posture: ONE key exchange; in-group arrays bounded by the
   * KEY's event count ([[ewma]]'s per-entity contract — for
   * unbounded streams carry the recurrences in keyed state).
   */
  def macd(df: DataFrame, keys: Seq[String], tsCol: String,
           tieCol: String, valueCol: String, fastSpan: Int = 12,
           slowSpan: Int = 26, signalSpan: Int = 9): DataFrame = {
    require(keys.nonEmpty, "macd needs key columns")
    require(fastSpan > 0 && slowSpan > fastSpan && signalSpan > 0,
      s"need 0 < fastSpan < slowSpan and signalSpan > 0")
    val af = lit(2.0) / (lit(fastSpan.toDouble) + lit(1.0))
    val as = lit(2.0) / (lit(slowSpan.toDouble) + lit(1.0))
    val ag = lit(2.0) / (lit(signalSpan.toDouble) + lit(1.0))
    val folded = sortedSeries(df, keys, tsCol, tieCol, Seq(valueCol),
        col(valueCol).cast("double").as("v"))
      .withColumn("__vs", transform(col("__l"), _.getField("v")))
      .withColumn("__ef", emaFold(col("__vs"), af))
      .withColumn("__es", emaFold(col("__vs"), as))
      .withColumn("__md",
        zip_with(col("__ef"), col("__es"), (a, b) => a - b))
      .withColumn("__sg", emaFold(col("__md"), ag))
    perEvent(folded, keys, tsCol, tieCol, valueCol, Seq("__md", "__sg"),
      col("col.__md").as("macd"), col("col.__sg").as("signal"),
      (col("col.__md") - col("col.__sg")).as("histogram"))
  }

  /**
   * Stochastic oscillator per key: where does each event's value sit
   * inside its recent trading range? —
   * `%K = 100·(x − LLₙ)/(HHₙ − LLₙ)` over the trailing `n` events
   * (partial head frames use the rows available — the natural
   * window semantics, pinned), and `%D` smooths %K over the last
   * `dPeriod` events.
   *
   * Engine-exact: values snap to the cent grid, so LL/HH are exact
   * integer frame min/max (order-free — no double-sum frame
   * hazard); %K is one pinned division of exact integers, null on a
   * flat frame (HH = LL); %D averages via EXPLICIT lags
   * (`(%K + lag₁ + lag₂)/d` — a windowed double SUM would be
   * association-order-dependent across engines) and is null until
   * `dPeriod` non-null %Ks accumulate.
   *
   * Output: (keys…, `tieCol`, `tsCol`, `valueCol`, pct_k, pct_d).
   *
   * Scale posture: ONE key exchange carries the frame min/max, the
   * lags, and the total order; per-key linear, nothing collected.
   */
  def stochasticOscillator(df: DataFrame, keys: Seq[String],
                           tsCol: String, tieCol: String,
                           valueCol: String, n: Int = 14,
                           dPeriod: Int = 3,
                           valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "stochasticOscillator needs key columns")
    require(n >= 1 && dPeriod >= 1, "need n >= 1 and dPeriod >= 1")
    val vc = unscaled(col(valueCol), valueScale)
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val frame = ord.rowsBetween(-(n - 1).toLong, Window.currentRow)
    val rows = positioned(df, keys, tsCol, tieCol, Seq(valueCol))
      .withColumn("__vc", vc)
      .withColumn("__ll", min(col("__vc")).over(frame))
      .withColumn("__hh", max(col("__vc")).over(frame))
      .withColumn("__k", lit(100.0) *
        (col("__vc") - col("__ll")).cast("double") /
        when(col("__hh") > col("__ll"),
          (col("__hh") - col("__ll")).cast("double")))
    val dSum = (1 until dPeriod).foldLeft(col("__k")) {
      case (acc, j) => acc + lag(col("__k"), j).over(ord)
    }
    rows
      .withColumn("__d", dSum / lit(dPeriod.toDouble))
      .select(keys.map(col) ++ Seq(col(tieCol), col(tsCol),
        col(valueCol), col("__k").as("pct_k"),
        col("__d").as("pct_d")): _*)
  }

  /**
   * Forecast-accuracy scorecard per key: MAE, RMSE, MAPE, sMAPE and
   * MASE of a forecast column against actuals — the one table you
   * produce after EVERY forecasting run ([[ewma]], [[holtLinear]],
   * [[holtWinters]], [[croston]]) to decide if the model beats the
   * naive carry-forward.
   *
   * Engine-exact: errors live on the cent grid, so Σ|e| and Σe² are
   * exact decimal sums; the percentage ratios |e|/|a| and
   * 2|e|/(|a|+|f|) quantize to an exact 10⁻⁹ grid by integer floor
   * division (a windowed double sum would be association-order-
   * dependent; the grid costs < 1e-7 % absolute and buys exact
   * cross-engine sums — quantization documented, both engines
   * truncate positives identically). MASE's scale is the in-sample
   * naive MAE `Σ|aᵢ−aᵢ₋₁|/(n−1)` on the (tsCol, tieCol) order —
   * exact cents. MAPE skips a = 0 rows; sMAPE skips |a|+|f| = 0
   * rows (counts reported); MASE nulls when the naive scale is 0.
   *
   * Output: (keys…, n, mae, rmse, mape, smape, mase) — mae/rmse in
   * input units, mape/smape in percent.
   *
   * Scale posture: one key exchange (the naive lag), ONE map-side-
   * combined closing aggregation. Envelope: |e|·10⁹ must fit a
   * long — |error| ≲ 9·10⁷ units at scale 2.
   */
  def forecastAccuracy(df: DataFrame, keys: Seq[String], tsCol: String,
                       tieCol: String, actualCol: String,
                       forecastCol: String,
                       valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "forecastAccuracy needs key columns")
    val scaleF = math.pow(10, valueScale)
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val rows =
      positioned(df, keys, tsCol, tieCol, Seq(actualCol, forecastCol))
      .withColumn("__ac", unscaled(col(actualCol), valueScale))
      .withColumn("__fc", unscaled(col(forecastCol), valueScale))
      .withColumn("__ae", abs(col("__ac") - col("__fc")))
      .withColumn("__nd", abs(col("__ac") - lag(col("__ac"), 1).over(ord)))
      .withColumn("__mq", when(col("__ac") =!= 0L,
        expr("(__ae * 1000000000L) div abs(__ac)")))
      .withColumn("__sq", when(abs(col("__ac")) + abs(col("__fc")) =!= 0L,
        expr("(__ae * 1000000000L) div (abs(__ac) + abs(__fc))")))
    val agg = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__ae").cast("decimal(38,0)")).as("__sae"),
        sum(col("__ae").cast("decimal(19,0)") *
          col("__ae").cast("decimal(19,0)")).as("__sse"),
        sum(col("__mq").cast("decimal(38,0)")).as("__smq"),
        count(col("__mq")).as("__cmq"),
        sum(col("__sq").cast("decimal(38,0)")).as("__ssq"),
        count(col("__sq")).as("__csq"),
        sum(col("__nd").cast("decimal(38,0)")).as("__snd"),
        count(col("__nd")).as("__cnd"))
    val nD = col("n").cast("double")
    val unit = lit(scaleF)
    val mae = col("__sae").cast("double") / nD / unit
    val rmse = sqrt(col("__sse").cast("double") / nD) / unit
    val mape = col("__smq").cast("double") /
      when(col("__cmq") > 0L, col("__cmq").cast("double")) / lit(1e7)
    val smape = col("__ssq").cast("double") /
      when(col("__csq") > 0L, col("__csq").cast("double")) /
      lit(1e9) * lit(200.0)
    val naive = col("__snd").cast("double") /
      when(col("__cnd") > 0L, col("__cnd").cast("double"))
    val mase = col("__sae").cast("double") / nD /
      when(col("__cnd") > 0L && col("__snd").cast("double") > 0.0, naive)
    agg.select(keys.map(col) ++ Seq(col("n"), mae.as("mae"),
      rmse.as("rmse"), mape.as("mape"), smape.as("smape"),
      mase.as("mase")): _*)
  }

  /**
   * Theil's U forecast-quality coefficients per key — the two
   * scale-free companions to [[forecastAccuracy]]'s error table:
   * `U₁ = RMSE / (√(Σa²/n) + √(Σf²/n)) ∈ [0, 1]` (0 = perfect; a
   * bounded score comparable across series of different magnitude)
   * and `U₂ = √(Σₜ≥₂(fₜ−aₜ)²) / √(Σₜ≥₂(aₜ−aₜ₋₁)²)` — the RMSE
   * ratio against the naive carry-forward on the same steps
   * (U₂ < 1: the model beats naive; > 1: it loses to doing
   * nothing), [[forecastAccuracy]]'s MASE on the quadratic scale.
   *
   * Engine-exact: everything lives on the cent grid — Σ(f−a)²,
   * Σa², Σf² and the naive Σ(aₜ−aₜ₋₁)² are exact DECIMAL(38,0)
   * sums of long products (the grid factor cancels in both ratios,
   * so no unit division appears); each closing is a fixed
   * left-to-right chain of two correctly-rounded sqrts and one
   * division. U₁ nulls on an all-zero pair of series; U₂ nulls
   * when the series never moves (zero naive SS) or n < 2.
   *
   * Output: (keys…, n, u1, u2).
   *
   * Oracle note: the exact decimal sums route to double via
   * VARCHAR in DuckDB (the q351 HUGEINT double-rounding lesson).
   *
   * Scale posture: one key exchange (the naive lag window), ONE
   * map-side-combined closing aggregation — [[forecastAccuracy]]'s
   * plan exactly.
   */
  def theilU(df: DataFrame, keys: Seq[String], tsCol: String,
             tieCol: String, actualCol: String, forecastCol: String,
             valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "theilU needs key columns")
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val rows =
      positioned(df, keys, tsCol, tieCol, Seq(actualCol, forecastCol))
      .withColumn("__ac", unscaled(col(actualCol), valueScale))
      .withColumn("__fc", unscaled(col(forecastCol), valueScale))
      .withColumn("__e", col("__fc") - col("__ac"))
      .withColumn("__nd", col("__ac") - lag(col("__ac"), 1).over(ord))
    def sq(c: Column) =
      sum((c.cast("decimal(19,0)") * c.cast("decimal(19,0)"))
        .cast("decimal(38,0)"))
    val agg = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sq(col("__e")).as("__see"),
        sq(col("__ac")).as("__saa"), sq(col("__fc")).as("__sff"),
        sq(col("__nd")).as("__snn"),
        sum(when(col("__nd").isNotNull,
          (col("__e").cast("decimal(19,0)") *
            col("__e").cast("decimal(19,0)")).cast("decimal(38,0)")))
          .as("__sel"))
    val nD = col("n").cast("double")
    val den1 = sqrt(col("__saa").cast("double") / nD) +
      sqrt(col("__sff").cast("double") / nD)
    val u1 = sqrt(col("__see").cast("double") / nD) / den1
    val u2 = sqrt(col("__sel").cast("double")) /
      sqrt(col("__snn").cast("double"))
    agg.select(keys.map(col) ++ Seq(col("n"),
      when(den1 > 0.0, u1).as("u1"),
      when(col("__snn").isNotNull &&
        col("__snn").cast("double") > 0.0, u2).as("u2")): _*)
  }

  /**
   * Forecast tracking signal per key — the BIAS monitor the
   * error table can't see: `TS = Σ(a−f) / MAD` with
   * `MAD = Σ|a−f|/n` — a forecast that is merely noisy keeps
   * Σ(a−f) near 0 and |TS| small; one that drifts (demand shifted,
   * model stale) accumulates signed error and |TS| walks past the
   * classic ±4 control limits. The standard re-fit trigger for
   * fleets of per-key forecasts ([[croston]], [[holtWinters]])
   * where nobody eyeballs individual series.
   *
   * Engine-exact and ORDER-FREE (sums only — no time order
   * enters): signed and absolute error sums are exact DECIMAL
   * sums of cents; `cum_error`/`mad` close with pinned unit
   * divisions and `TS = Σe / (Σ|e|/n)` is one fixed chain. Keys
   * with zero MAD (perfect forecast) emit null ts.
   *
   * Null contract: rows with a null key, actual or forecast are
   * dropped; there is no ts or tie column, so a row is counted
   * whatever its time. [[graft.streaming.Streaming.trackingSignalStream]]
   * orders its events and so also drops a row with a null ts or tie
   * (in `sortedRecurrence`): on such a feed the two forms disagree.
   *
   * Output: (keys…, n, cum_error, mad, tracking_signal) —
   * cum_error/mad in input units.
   *
   * Scale posture: ONE map-side-combined aggregation; the closing
   * is a projection. No window, no second exchange.
   */
  def trackingSignal(df: DataFrame, keys: Seq[String],
                     actualCol: String, forecastCol: String,
                     valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "trackingSignal needs key columns")
    val scaleF = math.pow(10, valueScale)
    val rows = df
      .filter(col(actualCol).isNotNull && col(forecastCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__e", unscaled(col(actualCol), valueScale) -
        unscaled(col(forecastCol), valueScale))
    val agg = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__e").cast("decimal(38,0)")).as("__se"),
        sum(abs(col("__e")).cast("decimal(38,0)")).as("__sae"))
    val nD = col("n").cast("double")
    agg.select(keys.map(col) ++ Seq(col("n"),
      (col("__se").cast("double") / lit(scaleF)).as("cum_error"),
      (col("__sae").cast("double") / nD / lit(scaleF)).as("mad"),
      when(col("__sae").cast("double") > 0.0,
        col("__se").cast("double") /
          (col("__sae").cast("double") / nD)).as("tracking_signal")): _*)
  }
}
