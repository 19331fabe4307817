package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Snap.unscaled

/**
 * Aggregation builder — the reference's GroupBy surface
 * (goetl `aggregate/groupby.go:48-83`) on Spark's `HashAggregateExec`,
 * which gives partial (map-side) + final aggregation and shuffle-scale
 * grouping for free; the reference's single-process hash map
 * (`aggregate/groupby.go:88`) is its scalability ceiling.
 *
 * Semantic upgrades vs the reference, by design (SURVEY.md §7.3):
 * group keys keep their native types (reference stringifies them,
 * `groupby.go:152-188`); min/max compare typed values (reference falls
 * back to string comparison across types, `groupby.go:405-428`).
 * Matching semantics: avg of zero values is null (`groupby.go:315-317`
 * ⇔ Spark `avg` over all-null), sum skips nulls (`groupby.go:379-402`).
 */
final case class GroupBy(
    groupFields: Seq[String],
    aggs: Seq[Column] = Seq.empty,
    sortResults: Boolean = false,
    /** "groupBy" (default), "rollup", "cube", or "sets" — hierarchical /
     *  all-combinations / explicit subtotal grains (beyond-reference
     *  §2.4 surface; disambiguate subtotal nulls with `grouping_id()`). */
    mode: String = "groupBy",
    /** Explicit grains for mode = "sets" (each a subset of
     *  `groupFields`) — the general form rollup/cube specialize:
     *  exactly the subtotal grains you pay for, nothing else. */
    sets: Seq[Seq[String]] = Nil) {

  /** count(*) — rows per group, like the reference (`groupby.go:253-269`). */
  def count(out: String): GroupBy =
    copy(aggs = aggs :+ org.apache.spark.sql.functions.count(lit(1)).as(out))

  def sum(field: String, out: String): GroupBy =
    copy(aggs = aggs :+ org.apache.spark.sql.functions.sum(col(field)).as(out))

  def avg(field: String, out: String): GroupBy =
    copy(aggs = aggs :+ org.apache.spark.sql.functions.avg(col(field)).as(out))

  def min(field: String, out: String): GroupBy =
    copy(aggs = aggs :+ org.apache.spark.sql.functions.min(col(field)).as(out))

  def max(field: String, out: String): GroupBy =
    copy(aggs = aggs :+ org.apache.spark.sql.functions.max(col(field)).as(out))

  /** Beyond-reference aggregates the engine exposes natively. */
  def countDistinct(field: String, out: String): GroupBy =
    copy(aggs = aggs :+ count_distinct(col(field)).as(out))
  def approxCountDistinct(field: String, out: String): GroupBy =
    copy(aggs = aggs :+ approx_count_distinct(col(field)).as(out))
  /** Approximate percentile sketch (1-pass, mergeable — the
   *  distributed-friendly quantile). */
  def approxQuantile(field: String, q: Double, out: String,
                     accuracy: Int = 10000): GroupBy =
    copy(aggs = aggs :+
      percentile_approx(col(field), lit(q), lit(accuracy)).as(out))

  /** Arbitrary aggregate column — the hook for custom
   *  `Aggregator[IN,BUF,OUT]` registered via `functions.udaf`
   *  (reference custom-aggregator SPI, `aggregate/aggregator.go:32-39`). */
  def agg(c: Column): GroupBy = copy(aggs = aggs :+ c)

  /** Deterministic output order like the reference's sorted emit
   *  (`groupby.go:191-199`); off by default — ordering is a contract
   *  only tests need, and a global sort is a needless exchange at scale. */
  def sorted: GroupBy = copy(sortResults = true)

  def rollup: GroupBy = copy(mode = "rollup")
  def cube: GroupBy = copy(mode = "cube")

  /** GROUPING SETS with explicit grains: one aggregation pass (Spark
   *  plans an Expand over the grains — |grains|× the input rows into
   *  ONE shuffle, never one job per grain). */
  def groupingSets(grains: Seq[String]*): GroupBy = {
    require(grains.nonEmpty, "groupingSets needs at least one grain")
    grains.flatten.foreach(f => require(groupFields.contains(f),
      s"grain column $f is not a group field"))
    copy(mode = "sets", sets = grains.toSeq)
  }

  def apply(df: DataFrame): DataFrame = {
    require(aggs.nonEmpty, "GroupBy needs at least one aggregate")
    val out =
      if (groupFields.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else {
        val grouped = mode match {
          case "rollup" => df.rollup(groupFields.map(col): _*)
          case "cube" => df.cube(groupFields.map(col): _*)
          case "sets" =>
            df.groupingSets(sets.map(_.map(col)), groupFields.map(col): _*)
          case _ => df.groupBy(groupFields.map(col): _*)
        }
        grouped.agg(aggs.head, aggs.tail: _*)
      }
    if (sortResults && groupFields.nonEmpty) out.orderBy(groupFields.map(col): _*)
    else out
  }
}

object GroupBy {
  def apply(fields: String*): GroupBy = GroupBy(fields.toSeq)

  /** Global aggregate: ONE aggregator over the whole input, exactly one
   *  output row (reference AggregateTask, `dag/tasks/transform.go:163-200`). */
  def global(aggs: Column*): DataFrame => DataFrame = {
    require(aggs.nonEmpty, "GroupBy.global needs at least one aggregate")
    df => df.agg(aggs.head, aggs.tail: _*)
  }

  /**
   * EXACT discrete percentiles per group: for each requested `p`, the
   * group's value at sorted position `ceil(p·n)` (the smallest value
   * with at least fraction p of rows ≤ it — SQL `percentile_disc`).
   * Output: one row per (group, p): (groupCols…, p, `out`).
   *
   * Discrete (an actual data value), not interpolated: exact and
   * engine-reproducible — interpolated percentiles mix doubles in an
   * engine-specific op order, so they can't be hash-compared across
   * engines. Cost: one shuffle on the group keys + an in-partition
   * sort (the window never leaves its partition); use
   * [[GroupBy.approxQuantile]] when a 1-pass mergeable sketch is the
   * better trade at scale.
   */
  def percentilesDisc(df: DataFrame, groupCols: Seq[String],
                      valueCol: String, ps: Seq[Double],
                      out: String = "value"): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"percentiles must lie in (0, 1], got $ps")
    val reserved = Set("p", "__rn", "__n")
    require(!groupCols.exists(reserved) && !reserved(valueCol),
      "percentilesDisc uses columns p/__rn/__n internally — rename the input's first")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col(valueCol))
    val n = Window.partitionBy(groupCols.map(col): _*)
    // SQL percentile_disc semantics: nulls are ignored, never ranked.
    // The rank ceil(p·n) is computed in DECIMAL: a double product like
    // 0.07×100 rounds to 7.000000000000001 and ceil would overshoot
    // the rank by one; decimal(18,12) holds the intended p exactly.
    // Per-row: the percentiles THIS row's rank serves, filtered BEFORE
    // the explode — exploding |ps|× the corpus and then filtering
    // would inflate the post-window stage by the percentile count.
    val hits = filter(
      array(ps.map(p => struct(lit(p).as("p"),
        ceil(lit(p).cast("decimal(18,12)") * col("__n")).cast("int").as("r"))): _*),
      s => s.getField("r") === col("__rn"))
    df.filter(col(valueCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", org.apache.spark.sql.functions.count(lit(1)).over(n))
      .withColumn("p", explode(hits))
      .select(groupCols.map(col) :+ col("p").getField("p").as("p") :+
        col(valueCol).as(out): _*)
  }

  /**
   * WEIGHTED exact discrete percentiles per group: for each `p`, the
   * smallest value whose cumulative weight reaches `p · W` — the
   * survey-statistics quantile (weighted median income, token-weighted
   * doc-length percentiles) that row-counting percentiles get wrong
   * whenever weights vary.
   *
   * Pinned, engine-exact arithmetic: weights are 2-decimal → scaled
   * to integer centi-units (exact longs, order-free sums); the
   * threshold `p · W` is one DECIMAL(6,5) × DECIMAL(20,0) product
   * (exact, no precision cap); a value qualifies iff
   * `cum ≥ p·W ∧ cum_before < p·W`, where ties share one cumulative
   * weight (RANGE frame) and `cum_before` subtracts the tied mass.
   * `ps` must carry at most 5 decimal digits. Rows with null value or
   * non-positive weight are ignored.
   *
   * Output: one row per (group, p): (groupCols…, p, `out`). Same
   * shuffle shape as [[percentilesDisc]] (one key shuffle, windows
   * share the partitioning).
   */
  def weightedPercentilesDisc(df: DataFrame, groupCols: Seq[String],
                              valueCol: String, weightCol: String,
                              ps: Seq[Double],
                              out: String = "value"): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"percentiles must lie in (0, 1], got $ps")
    require(ps.forall(p => (BigDecimal(p.toString) * 100000).isWhole),
      s"weighted percentiles support at most 5 decimal digits, got $ps")
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(valueCol)) // default RANGE frame: ties share cum
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    // peers frame: tied mass without a second partitioning (one exchange)
    val wTie = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(valueCol))
      .rangeBetween(Window.currentRow, Window.currentRow)
    val base = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .withColumn("__wt",
        (col(weightCol).cast("decimal(18,2)") * 100).cast("long"))
    val hits = filter(
      array(ps.map(p => struct(lit(p).as("p"),
        (lit(p).cast("decimal(6,5)") *
          col("__tot").cast("decimal(20,0)")).as("t"))): _*),
      s => col("__cum") >= s.getField("t") &&
        col("__before") < s.getField("t"))
    base
      .withColumn("__cum", sum("__wt").over(wOrd))
      .withColumn("__tot", sum("__wt").over(wAll))
      .withColumn("__tie", sum("__wt").over(wTie))
      .withColumn("__before", col("__cum") - col("__tie"))
      .withColumn("p", explode(hits))
      .select(groupCols.map(col) :+ col("p").getField("p").as("p") :+
        col(valueCol).as(out): _*)
      .distinct()
  }

  /**
   * Quantile binning (feature bucketizer): label every row with the
   * bin its `valueCol` falls into, where bin edges are the EXACT
   * discrete percentiles of the column itself ([[percentilesDisc]]
   * semantics, so the edges are actual data values and reproducible
   * in any engine). `ps = 0.1 … 0.9` yields deciles `1 … 10`.
   *
   * Bin rule (pinned): `bin = 1 + |{edge : value > edge}|` — a value
   * EQUAL to an edge belongs to the lower bin, matching the
   * `cdf ≥ p` reading of a discrete percentile. Null values get a
   * null bin.
   *
   * Mechanics: the |ps| edge rows collapse to ONE array row
   * (`sort_array(collect_list(...))`), broadcast-joined onto the
   * data, and the label is a single `aggregate()` fold over the
   * array — no driver collect, no per-edge join, and the labeling
   * side stays a pure whole-stage-codegen projection.
   *
   * Scale posture: the edge computation is [[percentilesDisc]] with
   * no group columns — a GLOBAL in-partition sort, exact but
   * single-task for the ranking window. That is the right tool up to
   * ~10^8 rows per column; past that, feed `edges` from
   * `approxQuantile` (mergeable sketch, one distributed pass) and
   * keep the same broadcast-fold labeling — the label side is
   * scale-free either way.
   */
  def binByQuantiles(df: DataFrame, valueCol: String, ps: Seq[Double],
                     out: String = "bin"): DataFrame = {
    val edges = percentilesDisc(df, Nil, valueCol, ps, out = "__edge")
      .groupBy()
      .agg(sort_array(collect_list(col("__edge"))).as("__edges"))
    binByEdges(df, valueCol, edges, out)
  }

  /** Labeling half of [[binByQuantiles]]: `edges` is a 1-row frame
   *  with a sorted-array column `__edges`; rows are labeled
   *  `1 + count(value > edge)` through a broadcast join + one
   *  `aggregate()` fold. Exposed so a sketch-derived edge set (e.g.
   *  `approxQuantile`) can reuse the scale-free labeling path. */
  def binByEdges(df: DataFrame, valueCol: String, edges: DataFrame,
                 out: String = "bin"): DataFrame =
    df.join(broadcast(edges))
      .withColumn(out,
        when(col(valueCol).isNotNull,
          aggregate(col("__edges"), lit(1),
            (acc, e) => acc + when(col(valueCol) > e, 1).otherwise(0))))
      .drop("__edges")

  /**
   * Per-key winsorization (outlier clamping): cap `valueCol` at the
   * key's own exact discrete `pLo`/`pHi` percentiles — the robust
   * alternative to dropping outliers before statistics or model
   * features (values below the low edge clamp UP to it, above the
   * high edge DOWN to it; the classic 5%/95% trim-by-replacement).
   * Edges are [[percentilesDisc]] values — actual data points, exact,
   * engine-reproducible; the clamp is an explicit
   * `WHEN v < lo THEN lo WHEN v > hi THEN hi` chain (no
   * `least`/`greatest` null-semantics divergence between engines).
   * Null values pass through null, all original rows survive.
   *
   * Scale posture: the edge relation is |groups| × 2 rows from one
   * key-shuffled ranking window, then pivots to one (lo, hi) row per
   * group and joins back — small side, AQE broadcasts it; the clamp
   * itself is a pure projection. Same skew profile as any per-key
   * window.
   */
  def winsorize(df: DataFrame, groupCols: Seq[String], valueCol: String,
                pLo: Double, pHi: Double,
                out: String = ""): DataFrame = {
    require(pLo < pHi, s"need pLo < pHi, got $pLo >= $pHi")
    val outCol = if (out.nonEmpty) out else s"${valueCol}_w"
    val edges = percentilesDisc(df, groupCols, valueCol, Seq(pLo, pHi),
        out = "__edge")
      .groupBy(groupCols.map(col): _*)
      .agg(min(when(col("p") === pLo, col("__edge"))).as("__lo"),
        min(when(col("p") === pHi, col("__edge"))).as("__hi"))
    val v = col(valueCol)
    df.join(edges, groupCols, "left")
      .withColumn(outCol,
        when(v < col("__lo"), col("__lo"))
          .when(v > col("__hi"), col("__hi"))
          .otherwise(v))
      .drop("__lo", "__hi")
  }

  /**
   * Empirical-CDF (quantile) transform per group: map every value to
   * its midrank CDF position `(rank + (ties − 1)/2) / n` in its
   * group — the rank-normalization feature transform (uniformizes any
   * distribution, robust to outliers; the per-segment form of what
   * scikit-learn calls QuantileTransformer).
   *
   * Midranks make tied values share one CDF position, and every term
   * is a multiple of 0.5 — exact in double arithmetic, so the single
   * closing division is the only IEEE op (engine-reproducible). Rows
   * with a null value are dropped (a rank of nothing is not 0).
   *
   * Scale posture: one shuffle on the group keys; the rank and
   * tie-count windows share that partitioning. Group skew lands in
   * AQE like any window.
   */
  def empiricalCdf(df: DataFrame, groupCols: Seq[String], valueCol: String,
                   out: String = "cdf"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col(valueCol))
    // peers frame = tie count WITHOUT a second (group, value)
    // partitioning — the whole operator stays one exchange
    val ties = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(valueCol))
      .rangeBetween(Window.currentRow, Window.currentRow)
    val n = Window.partitionBy(groupCols.map(col): _*)
    df.filter(col(valueCol).isNotNull)
      .withColumn("__t", count(lit(1)).over(ties))
      .withColumn("__n", count(lit(1)).over(n))
      .withColumn(out,
        (rank().over(w) + (col("__t") - lit(1)) / lit(2.0)) /
          col("__n").cast("double"))
      .drop("__t", "__n")
  }

  /**
   * Equal-width histogram per group: `bins` buckets over the group's
   * own observed [min, max], exact integer counts — the
   * distribution-shape companion to [[binByQuantiles]] (equal
   * POPULATION) and the visual layer under
   * [[graft.quality.Quality.ksDriftBinned]]. Bucket rule pinned:
   * `least(bins−1, floor((v − lo)·bins/(hi − lo)))` (max value folds
   * into the last bucket; degenerate all-equal groups land in bucket
   * 0). Empty buckets are emitted with 0 so the histogram is dense.
   *
   * Two key shuffles on tiny relations (span, counts); the bucket
   * label is a pure projection.
   */
  def histogram(df: DataFrame, groupCols: Seq[String], valueCol: String,
                bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val base = df.filter(col(valueCol).isNotNull)
    // Materialize the per-group span ONCE (it is aggregate-sized: one
    // row per group). It feeds two consumers — the bucket-assignment
    // join and the dense axis — and without the checkpoint Catalyst
    // re-derives the subtree per consumer, i.e. re-SCANS the corpus a
    // second and third time (a full extra column scan at 100 TB each).
    // With it: two corpus scans total, the two-pass minimum for an
    // equal-width histogram (one for the span, one for the counts).
    val span = base.groupBy(groupCols.map(col): _*)
      .agg(min(col(valueCol).cast("double")).as("__lo"),
        max(col(valueCol).cast("double")).as("__hi"))
      .localCheckpoint()
    val joined =
      if (groupCols.isEmpty) base.crossJoin(broadcast(span))
      else base.join(span, groupCols)
    val bucket = when(col("__hi") === col("__lo"), lit(0L))
      .otherwise(least(lit(bins - 1).cast("long"),
        floor((col(valueCol).cast("double") - col("__lo")) * bins /
          (col("__hi") - col("__lo")))))
    val counts = joined
      .withColumn("bucket", bucket)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n"))
    // densify: every (group, bucket) pair, zero-filled
    val axis = span.select(groupCols.map(col) :+
      explode(sequence(lit(0L), lit((bins - 1).toLong))).as("bucket"): _*)
    axis.join(counts, groupCols :+ "bucket", "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
  }

  /**
   * 2-D skyline (Pareto front): label every row `is_skyline` = no
   * other row is at least as good on BOTH axes and strictly better on
   * one — minimize `minCol`, maximize `maxCol` (cheapest-and-biggest;
   * flip signs upstream for other orientations). The
   * price-performance frontier query.
   *
   * Pinned dominance: row a is dominated iff ∃ b with
   * `(b.min < a.min ∧ b.max ≥ a.max) ∨ (b.min ≤ a.min ∧ b.max > a.max)`.
   * Ties on both axes are mutually non-dominating (both surface).
   * Rows with a null on either axis are dropped.
   *
   * Mechanics: for 2-D the frontier is one sorted sweep, not a
   * quadratic exists-check — collapse to one row per distinct
   * `minCol` (max of `maxCol`), running-max windows give "best
   * strictly cheaper" (lag of the cummax) and "best at-or-cheaper",
   * and the labels broadcast back on `minCol`. The distinct-price
   * sweep is a single-task sort — right to ~10^8 distinct values;
   * past that, range-partition by `minCol` and prefix-scan the
   * per-partition maxima.
   */
  def skyline2D(df: DataFrame, minCol: String, maxCol: String,
                out: String = "is_skyline"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(minCol).isNotNull && col(maxCol).isNotNull)
    val perMin = base.groupBy(col(minCol).as("__mn"))
      .agg(max(col(maxCol)).as("__best"))
      .withColumn("__incl", max(col("__best")).over(
        Window.orderBy(col("__mn")).rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("__strict", lag(col("__incl"), 1).over(
        Window.orderBy(col("__mn"))))
      .select(col("__mn"), col("__incl"), col("__strict"))
    // join on the distinct-minCol relation (AQE broadcasts when small;
    // an explicit hint would be wrong at 10^8 distinct values)
    base.join(perMin, col(minCol) === col("__mn"))
      .withColumn(out,
        !(coalesce(col("__strict") >= col(maxCol), lit(false)) ||
          col("__incl") > col(maxCol)))
      .drop("__mn", "__incl", "__strict")
  }

  /** Shared event-time ordering for the window-over-time operators:
   *  timestamps order as `unix_micros`, numerics as-is. */
  private def timeOrder(df: DataFrame, timeCol: String): Column =
    df.schema(timeCol).dataType match {
      case _: org.apache.spark.sql.types.TimestampType => unix_micros(col(timeCol))
      case _: org.apache.spark.sql.types.NumericType   => col(timeCol)
      case dt => throw new IllegalArgumentException(
        s"time column '$timeCol' must be timestamp or numeric, got $dt")
    }

  /**
   * Time-based rolling aggregates per key: for every row, the count /
   * exact sum / mean over that key's rows in `[t − lookback, t]` — a
   * RANGE window frame over event time (feature engineering's "events
   * in the last hour per user"), not a ROWS frame (which would count
   * physical rows and break on ties or gaps).
   *
   * `timeCol` may be a timestamp (ordered as `unix_micros`) or any
   * numeric (ordered as-is); `lookback` is in the same unit
   * (microseconds for timestamps). The sum runs in DECIMAL(18,2) —
   * exact, order-independent, engine-reproducible — and surfaces as a
   * double. `<prefix>n` counts the frame's ROWS; the mean divides by
   * the frame's non-null VALUE count (a mean that shrank with null
   * density would be neither a mean nor a signal), so an all-null
   * frame reports a null sum and mean. Rows with a null event time
   * sort after every timed row (both engines' NULLS LAST) and frame
   * only their null-time peers.
   *
   * Scale posture: one shuffle on the keys; every frame stays inside
   * its key's sorted partition (Spark evaluates RANGE frames with a
   * per-partition sliding accumulator — no self-join, no explode).
   * Key skew lands in AQE like any window.
   */
  def rollingByTime(df: DataFrame, keys: Seq[String], timeCol: String,
                    valueCol: String, lookback: Long,
                    prefix: String = "roll_"): DataFrame = {
    require(keys.nonEmpty, "rollingByTime needs key columns")
    require(lookback >= 0, s"lookback must be >= 0, got $lookback")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(timeOrder(df, timeCol).asc_nulls_last)
      .rangeBetween(-lookback, Window.currentRow)
    val dec = col(valueCol).cast("decimal(18,2)")
    val n = count(lit(1)).over(w)
    val s = sum(dec).over(w).cast("double")
    df.withColumn(s"${prefix}n", n)
      .withColumn(s"${prefix}sum", s)
      .withColumn(s"${prefix}mean", s / count(dec).over(w))
  }

  /**
   * Batch sessionization (gaps-and-islands): assign every row a
   * per-key `session_id` (1-based, in time order) where a new session
   * starts whenever the gap to the key's previous event exceeds
   * `gap`. The batch twin of the streaming `session_window`
   * aggregation — this one LABELS the rows instead of collapsing
   * them, which is what downstream per-event feature pipelines need.
   *
   * Two windows over one shuffle on the keys: a `lag` marks session
   * starts, a running sum numbers them. Deterministic under
   * timestamp ties: tied rows have gap 0 to each other, so they can
   * never straddle a boundary regardless of tie order, and the
   * default RANGE frame gives all peers the same running sum.
   * `timeCol` may be a timestamp (micros) or any numeric; `gap` is in
   * the same unit. A gap STRICTLY greater than `gap` starts a new
   * session (boundary-equal events stay in the session). Null event
   * times sort last (both engines' NULLS LAST — engine-reproducible,
   * where Spark's default nulls-first would diverge from SQL) and
   * attach to the key's final session (`null − t` compares false, so
   * they never open one); a key with ONLY null times is one session.
   */
  def sessionize(df: DataFrame, keys: Seq[String], timeCol: String,
                 gap: Long, out: String = "session_id"): DataFrame = {
    require(keys.nonEmpty, "sessionize needs key columns")
    require(gap >= 0, s"gap must be >= 0, got $gap")
    import org.apache.spark.sql.expressions.Window
    val t = timeOrder(df, timeCol)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(t.asc_nulls_last)
    val prev = lag(t, 1).over(w)
    val isStart = when(prev.isNull || (t - prev) > gap, 1L).otherwise(0L)
    // two stages: window functions can't nest in one expression
    val startCol = graft.core.Engine.freshColumn(df, "__graft_sess_start")
    df.withColumn(startCol, isStart)
      .withColumn(out, sum(col(startCol)).over(w))
      .drop(startCol)
  }

  /**
   * Per-group feature normalization, engine-reproducible:
   *
   *   - `"minmax"`: `(x − min) / (max − min)` — exact group extrema,
   *     one IEEE subtract/divide per row.
   *   - `"zscore"`: `(x − mean) / stddev_pop`, with mean and variance
   *     derived from EXACT decimal aggregates — `Σx`, `Σx²` over
   *     DECIMAL(18,4) values, whose product (37,8) stays inside every
   *     engine's 38-digit cap, so no engine-specific precision
   *     clamping. A double `stddev` aggregate is partial-aggregation-
   *     order dependent and can't hash-compare across engines; exact
   *     sums fold identically everywhere, and the final mean/sqrt are
   *     single deterministic double ops.
   *
   * A constant group (zero spread) normalizes to null (0/0 is
   * undefined, not 0 — callers coalesce if they want a default).
   * Null and NaN values normalize to null AND are excluded from the
   * group statistics (one NaN would otherwise poison its whole
   * group's min/max/sums); zscore additionally excludes |x| ≥ 10¹⁴
   * (outside DECIMAL(18,4)) the same way rather than failing the
   * exact-sum cast. A NULL GROUP KEY is a group like any other (the
   * stats ride a whole-partition window, not a stats join — an
   * equi-join would silently drop null-key rows). One shuffle on the
   * group keys; group skew lands on the window's partition like any
   * per-group operator.
   */
  def normalizePerKey(df: DataFrame, keys: Seq[String], valueCol: String,
                      method: String = "zscore",
                      out: String = "normalized"): DataFrame = {
    require(keys.nonEmpty, "normalizePerKey needs group columns")
    import org.apache.spark.sql.expressions.Window
    val raw = col(valueCol).cast("double")
    val v = when(!isnan(raw), raw) // null for NaN (and null) inputs
    val w = Window.partitionBy(keys.map(col): _*)
    method match {
      case "minmax" =>
        val (lo, hi) = (min(v).over(w), max(v).over(w))
        df.withColumn(out,
          when(hi === lo, lit(null).cast("double"))
            .otherwise((v - lo) / (hi - lo)))
      case "zscore" =>
        val inRange = when(abs(v) < 1e14, v) // exact-decimal domain
        val dec = inRange.cast("decimal(18,4)")
        // n counts exactly the values inside the sums — null, NaN and
        // out-of-range rows affect neither numerator nor denominator
        val n = count(dec).over(w)
        val mean = sum(dec).over(w).cast("double") / n
        // Population variance from exact sums: E[x²] − E[x]².
        // PRECISION LIMIT: the sums are exact decimals but the final
        // subtraction is double arithmetic, so groups whose |mean|
        // dwarfs their spread (σ/|μ| ≲ 1e-8, e.g. values ~1e7 spread
        // <1) cancel catastrophically — z-scores degrade and can go
        // spuriously null (variance ≤ 0). The form is kept because the
        // external oracle reproduces it bit-exactly; a mean-shifted
        // second moment would fix cancellation at the cost of a second
        // windowed pass. Rescale such groups before normalizing.
        val variance = sum(dec * dec).over(w).cast("double") / n - mean * mean
        df.withColumn(out,
          when(n === 0 || variance <= 0, lit(null).cast("double"))
            .otherwise((inRange - mean) / sqrt(variance)))
      case other =>
        throw new IllegalArgumentException(
          s"unknown normalization method '$other' (minmax | zscore)")
    }
  }

  /**
   * Deterministic per-group string aggregation (SQL LISTAGG /
   * string_agg): values sorted ascending, joined with `sep`. The sort
   * makes the result partition-order independent — `collect_list`
   * alone is nondeterministic under shuffles.
   */
  def stringAgg(df: DataFrame, groupCols: Seq[String], valueCol: String,
                sep: String = ",", out: String = "agg"): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      // sort TYPED values, then stringify: casting first would order
      // numerics lexicographically ("10" < "9")
      .agg(array_join(
        transform(array_sort(collect_list(col(valueCol))), _.cast("string")),
        sep).as(out))
  /**
   * Weighted median per group — the robust center when observations
   * carry weights (orders weighted by quantity, responses by survey
   * weight): the smallest value whose cumulative weight reaches half
   * the total, `min{ v : 2·cumW(v) ≥ W }` (the weighted LOWER
   * median — a data value, never an interpolation, so it is exact
   * and engine-identical).
   *
   * All-integer arithmetic: weights land on their decimal grid and
   * unscale to longs; the pick is an integer comparison on the
   * cumulative sums. Rows with null value/weight or weight ≤ 0 are
   * excluded; empty groups simply don't appear.
   *
   * Output: (keys…, n, total_weight, wmedian) — `total_weight` on the
   * weight grid (× 10^weightScale), `wmedian` the value as double.
   *
   * Scale posture: rows collapse to the (group, value) grid map-side;
   * ONE group exchange carries the cumulative window, the total, and
   * the closing min.
   */
  def weightedMedian(df: DataFrame, keys: Seq[String], valueCol: String,
                     weightCol: String, valueScale: Int = 2,
                     weightScale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast(s"decimal(18,$valueScale)")
    val w = unscaled(col(weightCol), weightScale)
    val grid = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .select(keys.map(col) :+ v.as("__v") :+ w.as("__w"): _*)
      .filter(col("__w") > 0)
      .groupBy(keys.map(col) :+ col("__v"): _*)
      .agg(sum(col("__w")).as("__gw"), count(lit(1)).as("__c"))
    val wk = Window.partitionBy(keys.map(col): _*)
    val cum = grid
      .withColumn("__cum", sum(col("__gw")).over(wk.orderBy(col("__v"))))
      .withColumn("__tot", sum(col("__gw")).over(wk))
      .withColumn("__n", sum(col("__c")).over(wk))
    cum.filter(lit(2L) * col("__cum") >= col("__tot"))
      .groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("n"), max(col("__tot")).as("total_weight"),
        min(col("__v")).cast("double").as("wmedian"))
  }

  /**
   * Top-k members per group with an OTHER rollup: the reporting
   * staple ("top 5 customers per region, everyone else as one row")
   * that a bare per-group limit gets wrong — dropping the tail hides
   * its mass; collapsing it to 'OTHER' keeps group totals exact.
   *
   * Members rank on the EXACT decimal measure sum, best first, with
   * the member value as tie-break — a total order (the q207
   * discipline), so the k-cut is deterministic on any engine. The
   * output measure is the double cast of the exact decimal.
   *
   * Output: (keys…, member STRING — the dim value or 'OTHER', n_rows,
   * measure, rank — 1..k for kept members, k+1 for OTHER).
   *
   * Scale posture: one (keys, dim) map-side-combined collapse, then
   * the rank window AND the OTHER re-collapse both ride ONE group
   * exchange (keys ⊂ keys+member). The heavy tail never crosses the
   * wire un-aggregated.
   */
  def topKOther(df: DataFrame, keys: Seq[String], dimCol: String,
                measureCol: String, k: Int, measureScale: Int = 2,
                otherLabel: String = "OTHER"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val grid = df
      .filter(col(dimCol).isNotNull && col(measureCol).isNotNull)
      .groupBy(keys.map(col) :+ col(dimCol).cast("string").as("__m"): _*)
      .agg(count(lit(1)).as("__c"),
        sum(col(measureCol).cast(s"decimal(18,$measureScale)")).as("__s"))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__s").desc, col("__m").asc)
    grid
      .withColumn("__rk", row_number().over(w))
      .withColumn("member",
        when(col("__rk") <= k, col("__m")).otherwise(lit(otherLabel)))
      .withColumn("rank",
        when(col("__rk") <= k, col("__rk")).otherwise(lit((k + 1).toLong)))
      .groupBy(keys.map(col) :+ col("member"): _*)
      .agg(min(col("rank")).as("rank"), sum(col("__c")).as("n_rows"),
        sum(col("__s")).cast("double").as("measure"))
  }

  /**
   * Running DISTINCT count per key: at every event, how many distinct
   * values the key has seen so far — "unique products per customer
   * over time", the cumulative-cardinality curve behind engagement
   * and coverage dashboards. An exact sliding `count(DISTINCT)` has
   * no window form in any engine; the standard relational rewrite is
   * two linear passes: flag each row that is its (key, value)'s FIRST
   * occurrence (rank 1 on the (key, value) partition), then a running
   * sum of flags on the key partition.
   *
   * Order inside a key is (tsCol, idCol) — a total order (the q207
   * discipline), which also pins WHICH row of a same-timestamp pair
   * gets the first-seen flag. Null values don't count as a distinct
   * value (rows still emit, carrying the running count).
   *
   * Output: (keys…, tsCol, idCol, valueCol, `distinct_so_far` long).
   *
   * Scale posture: one (keys, value) exchange for the first-seen
   * window, one keys exchange for the running sum — the second is a
   * strict coarsening of the first, but value cardinality makes the
   * flag pass the one that balances. Both frames linear.
   */
  def runningDistinct(df: DataFrame, keys: Seq[String], tsCol: String,
                      idCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keys.nonEmpty, "runningDistinct needs key columns")
    val wv = Window
      .partitionBy(keys.map(col) :+
        when(col(valueCol).isNotNull, col(valueCol)): _*)
      .orderBy(col(tsCol), col(idCol))
    val wk = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(tsCol).isNotNull)
      .withColumn("__first",
        when(col(valueCol).isNotNull &&
          row_number().over(wv) === 1, 1L).otherwise(0L))
      .withColumn("distinct_so_far", sum(col("__first")).over(wk))
      .select(keys.map(col) ++ Seq(col(tsCol), col(idCol),
        col(valueCol), col("distinct_so_far")): _*)
  }
}
