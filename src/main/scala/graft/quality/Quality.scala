package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Data-quality validation — the reference's DataQualityValidator
 * (goetl `validators/validators.go:75-188` + per-field rules
 * `:200-336`) reformulated as ONE aggregation pass.
 *
 * The reference loops over materialized records per check; here every
 * rule compiles to a conditional-count aggregate, so the whole rule
 * set costs a single scan + single-row reduce at any scale, and the
 * metrics row itself is a first-class DataFrame ([[metrics]]).
 *
 * Field-presence checks (`validators.go:133-155`) are schema checks in
 * a columnar engine — evaluated statically against `df.schema`, no scan.
 *
 * [[validate]] mirrors the reference's gate contract
 * (`dag/tasks/conditional.go:49-79`): returns the list of violations;
 * empty list = pass. [[validateOrThrow]] is the fail-fast form.
 */
object Quality {

  /** Per-field rule (reference FieldValidator, `validators/validators.go:40-52`). */
  final case class FieldRule(
      field: String,
      notNull: Boolean = false,
      pattern: Option[String] = None,          // regex (validators.go:225-233)
      min: Option[Double] = None,              // numeric range (:310-336)
      max: Option[Double] = None,
      allowed: Seq[Any] = Seq.empty,           // whitelist (:240-253)
      fieldType: Option[String] = None)        // string|int|float|bool|date|email|url|uuid (:62-72)

  final case class Config(
      minRecords: Long = 0L,                   // validators.go:81-85
      maxRecords: Long = 0L,                   // 0 = unlimited (:87-91)
      requiredFields: Seq[String] = Seq.empty, // :133-144
      forbiddenFields: Seq[String] = Seq.empty,// :146-155
      maxNullRate: Double = 0.0,               // 0 = disabled (:158-188)
      nullRateFields: Seq[String] = Seq.empty, // default: all fields
      rules: Seq[FieldRule] = Seq.empty,
      /** Dataset-level custom validators (reference `validators.go:109-117`):
       *  name → predicate over the whole frame; false = violation.
       *  Runs as its own action — use for checks a counting rule can't
       *  express. */
      customValidators: Seq[(String, DataFrame => Boolean)] = Seq.empty)

  // Semantic regexes for email/url/uuid/date types (validators.go:270-307).
  private val typePatterns = Map(
    "email" -> "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$",
    "url" -> "^https?://[^\\s]+$",
    "uuid" -> "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$",
    "date" -> "^\\d{4}-\\d{2}-\\d{2}$")

  /** Count rows where `c` is true (null counts as false). */
  private def countIf(c: Column): Column = sum(when(c, 1L).otherwise(0L))

  /** Violation-count aggregates for one rule, named `<field>__<kind>`. */
  private def ruleAggs(r: FieldRule): Seq[(String, Column)] = {
    val c = col(r.field)
    val checks = Seq.newBuilder[(String, Column)]
    def add(name: String, cond: Column): Unit =
      checks += name -> countIf(cond).as(name)
    if (r.notNull)
      add(s"${r.field}__null", c.isNull)
    r.pattern.foreach(p =>
      add(s"${r.field}__pattern", c.isNotNull && !c.cast("string").rlike(p)))
    r.min.foreach(lo =>
      add(s"${r.field}__min", c.isNotNull && c.cast("double") < lo))
    r.max.foreach(hi =>
      add(s"${r.field}__max", c.isNotNull && c.cast("double") > hi))
    if (r.allowed.nonEmpty)
      add(s"${r.field}__allowed", c.isNotNull && !c.isin(r.allowed: _*))
    r.fieldType.filter(typePatterns.contains).foreach(t =>
      add(s"${r.field}__type_$t", c.isNotNull && !c.cast("string").rlike(typePatterns(t))))
    checks.result()
  }

  /**
   * One-row metrics DataFrame: `n_records`, per-field `<f>__nulls`
   * null counts (for the null-rate check) and per-rule violation
   * counts `<field>__<kind>`. Single aggregation pass.
   */
  def metrics(df: DataFrame, cfg: Config): DataFrame = {
    val nullFields =
      if (cfg.nullRateFields.nonEmpty) cfg.nullRateFields
      else if (cfg.maxNullRate > 0) df.columns.toSeq
      else Seq.empty
    val aggs: Seq[Column] =
      count(lit(1)).as("n_records") +:
        (nullFields.map(f => countIf(col(f).isNull).as(s"${f}__nulls")) ++
          cfg.rules.flatMap(ruleAggs(_).map(_._2)))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Run all checks; returns violation messages (empty = pass). */
  def validate(df: DataFrame, cfg: Config): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val cols = df.columns.toSet
    // Static schema checks — the columnar analogue of per-record field
    // presence (validators.go:133-155).
    cfg.requiredFields.filterNot(cols.contains)
      .foreach(f => errs += s"missing required field: $f")
    cfg.forbiddenFields.filter(cols.contains)
      .foreach(f => errs += s"contains forbidden field: $f")

    val row = metrics(df, cfg).collect()(0)
    val n = row.getAs[Long]("n_records")
    if (n < cfg.minRecords)
      errs += s"insufficient records: got $n, need at least ${cfg.minRecords}"
    if (cfg.maxRecords > 0 && n > cfg.maxRecords)
      errs += s"too many records: got $n, maximum allowed ${cfg.maxRecords}"
    if (cfg.maxNullRate > 0 && n > 0) {
      val nullFields =
        if (cfg.nullRateFields.nonEmpty) cfg.nullRateFields else df.columns.toSeq
      nullFields.foreach { f =>
        val rate = row.getAs[Long](s"${f}__nulls").toDouble / n
        if (rate > cfg.maxNullRate)
          errs += f"field $f has null rate $rate%.2f, exceeds maximum ${cfg.maxNullRate}%.2f"
      }
    }
    cfg.rules.foreach { r =>
      ruleAggs(r).foreach { case (name, _) =>
        val v = row.getAs[Long](name)
        if (v > 0) errs += s"rule violation $name: $v rows"
      }
    }
    cfg.customValidators.foreach { case (name, check) =>
      val ok =
        try check(df)
        catch { case e: Exception =>
          errs += s"custom validator $name failed: ${e.getMessage}"; true }
      if (!ok) errs += s"custom validator $name failed validation"
    }
    errs.result()
  }

  /** Fail-fast gate (reference ConditionalTask failure semantics:
   *  validator error ⇒ task fails ⇒ downstream all_success tasks skip,
   *  `dag/tasks/conditional.go:49-79`). */
  def validateOrThrow(df: DataFrame, cfg: Config): Unit = {
    val errs = validate(df, cfg)
    if (errs.nonEmpty)
      throw new QualityException(errs)
  }

  final class QualityException(val violations: Seq[String])
    extends RuntimeException(s"data quality validation failed:\n  ${violations.mkString("\n  ")}")

  /**
   * Per-column data profile: one row per column with
   * (col_name, n_rows, n_nulls, n_distinct) — the standard profiling
   * summary feeding quality rules and schema drift checks.
   *
   * One aggregation over the input computes every metric, then a
   * `stack` melts the single metrics row into per-column rows (the
   * melt is driver-cheap: it reshapes one row). With `exact = true`
   * the distinct counts are exact — Spark plans multi-distinct
   * aggregates via one Expand pass (input rows × columns) — right for
   * gates and tests; at 100 TB set `exact = false` for
   * HyperLogLog `approx_count_distinct` in a single linear pass.
   */
  def profile(df: DataFrame, columns: Seq[String] = Nil,
              exact: Boolean = true): DataFrame = {
    val cs = if (columns.isEmpty) df.columns.toSeq else columns
    require(cs.nonEmpty, "profile needs at least one column")
    // INDEXED scratch aliases + typed stack(), no selectExpr: user
    // column names never enter parsed SQL text, so a name carrying a
    // quote, backtick, or comma profiles fine — it appears only as
    // data (the lit() below) and as a backtick-quoted column reference
    // (Dataset.col parses attribute names, so inner backticks double).
    def ref(c: String): Column = df(s"`${c.replace("`", "``")}`")
    val aggs = count(lit(1)).as("n_rows") +: cs.zipWithIndex.flatMap { case (c, i) => Seq(
      // coalesce: sum over ZERO rows is null, but a profile of an empty
      // table must report 0 nulls, not null
      coalesce(sum(when(ref(c).isNull, 1L).otherwise(0L)), lit(0L))
        .as(s"__nulls_$i"),
      (if (exact) count_distinct(ref(c))
       else approx_count_distinct(ref(c))).as(s"__distinct_$i")) }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = lit(cs.size) +: cs.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(c), col(s"__nulls_$i"), col(s"__distinct_$i")) }
    row.select(col("n_rows"),
        stack(stackArgs: _*).as(Seq("col_name", "n_nulls", "n_distinct")))
      .select(col("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"))
  }

  /**
   * Robust per-group outlier filter: keep rows with
   * `|x − median| ≤ k · MAD` (median absolute deviation — the robust
   * z-score; a mean/stddev gate breaks exactly when it matters, since
   * one extreme value inflates the stddev that is supposed to catch
   * it). Null values never qualify (they can't be judged).
   *
   * Both the median and the MAD are DISCRETE percentiles (actual data
   * values at rank ⌈n/2⌉ via [[graft.agg.GroupBy.percentilesDisc]]) —
   * exact and engine-reproducible, unlike interpolated quantiles whose
   * double mixing is engine-specific. Deviations compare as doubles
   * (one IEEE subtract/multiply each side).
   *
   * Scale posture: two group-window passes (median, then MAD over
   * deviations) + two joins against one-row-per-group tables — the
   * group tables broadcast, the corpus shuffles only on the group
   * keys. An all-constant group has MAD 0 and keeps exactly its
   * median-valued rows. The stat joins are NULL-SAFE on the group
   * keys: a null group key is a group like any other, never silently
   * dropped (an equi-join would delete those rows).
   */
  def madOutlierFilter(df: DataFrame, groupCols: Seq[String],
                       valueCol: String, k: Double = 3.0): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    require(groupCols.nonEmpty, "madOutlierFilter needs group columns")
    import graft.core.Engine.freshColumn
    val medCol = freshColumn(df, "__graft_mad_med")
    val devCol = freshColumn(df, "__graft_mad_dev")
    val madCol = freshColumn(df, "__graft_mad_mad")
    // null-safe stats attachment: the one-row-per-group table joins on
    // <=> per key (renamed to scratch names so nothing clashes)
    def attachStats(base: DataFrame, stats: DataFrame, statCol: String): DataFrame = {
      val keyNames = groupCols.indices.map(i => freshColumn(df, s"${statCol}_k$i"))
      val renamed = groupCols.zip(keyNames).foldLeft(stats) {
        case (d, (c, kn)) => d.withColumnRenamed(c, kn)
      }
      val cond = groupCols.zip(keyNames)
        .map { case (c, kn) => base(c) <=> renamed(kn) }
        .reduce(_ && _)
      keyNames.foldLeft(base.join(renamed, cond, "inner"))((d, kn) => d.drop(kn))
    }
    val med = graft.agg.GroupBy.percentilesDisc(
        df, groupCols, valueCol, Seq(0.5), out = medCol)
      .drop("p")
    val dev = attachStats(df.filter(col(valueCol).isNotNull), med, medCol)
      .withColumn(devCol,
        abs(col(valueCol).cast("double") - col(medCol).cast("double")))
    val mad = graft.agg.GroupBy.percentilesDisc(
        dev, groupCols, devCol, Seq(0.5), out = madCol)
      .drop("p")
    attachStats(dev, mad, madCol)
      .filter(col(devCol) <= lit(k) * col(madCol))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /**
   * Two-sample Kolmogorov–Smirnov drift statistic between the
   * `valueCol` distributions of two slices (`flagCol = a` vs `= b`) —
   * the standard "did this feed's distribution move" gate between a
   * reference snapshot and today's load.
   *
   * Exact form: `KS = max over observed v of |F_a(v) − F_b(v)|`,
   * with both empirical CDFs evaluated by ONE pass of running sums
   * over the merged sample ordered by value. The windows use the
   * default RANGE frame (peers included), so equal values — within
   * or across the two slices — contribute symmetrically and the
   * statistic is independent of any tie order. Every arithmetic step
   * (long counts, one exactly-rounded long→double divide per CDF,
   * subtract, abs, max) is deterministic IEEE, so the single output
   * row reproduces bit-identically in any engine.
   *
   * Output: one row (n_a, n_b, ks_stat). Empty either side → empty
   * result (a CDF against nothing is not 0 drift; callers gate on
   * presence).
   *
   * Scale posture: the exact statistic NEEDS a total order, so the
   * running-sum window is a single-task sort after an all-to-one
   * exchange — correct to ~10^8 rows, not at corpus scale. At scale
   * use [[ksDriftBinned]]: identical formula over a B-bucket
   * pre-aggregation (distributed groupBy), error bounded by the max
   * per-bin mass. The exact form is what the oracle verifies; the
   * binned form is property-tested against it.
   */
  def ksDrift(df: DataFrame, valueCol: String, flagCol: String,
              a: String, b: String): DataFrame = {
    val base = df
      .filter(col(flagCol).isin(a, b) && col(valueCol).isNotNull)
      .select(col(valueCol).as("__v"),
        (col(flagCol) === a).cast("long").as("__ia"),
        (col(flagCol) === b).cast("long").as("__ib"))
    ksGap(base, "__v")
  }

  /** The KS closing shared by [[ksDrift]] and [[ksDriftBinned]]: over
   *  rows of (`order`, `__ia`, `__ib`), both empirical CDFs as running
   *  sums in `order` (default RANGE frame: peers included), the two
   *  totals, and `max |ca/na − cb/nb|` — one row (n_a, n_b, ks_stat),
   *  or none when either side is empty. */
  private def ksGap(base: DataFrame, order: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(order))
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)) // global totals without a second aggregate pass
    base
      .withColumn("__ca", sum(col("__ia")).over(w))
      .withColumn("__cb", sum(col("__ib")).over(w))
      .withColumn("__na", sum(col("__ia")).over(all))
      .withColumn("__nb", sum(col("__ib")).over(all))
      .filter(col("__na") > 0 && col("__nb") > 0)
      // grouping on the (single-valued) totals rather than a global
      // agg keeps the empty-input case EMPTY instead of one null row
      .groupBy(col("__na"), col("__nb"))
      .agg(max(abs(col("__ca").cast("double") / col("__na").cast("double") -
        col("__cb").cast("double") / col("__nb").cast("double")))
        .as("ks_stat"))
      .select(col("__na").as("n_a"), col("__nb").as("n_b"), col("ks_stat"))
  }

  /**
   * Histogram-approximated KS for corpus scale: values are floored
   * into `bins` equal-width buckets over the observed [min, max],
   * per-bucket counts aggregate DISTRIBUTED (one groupBy), and the
   * exact KS formula runs over the ≤ `bins`-row histogram. The
   * approximation evaluates the CDFs only at bucket upper edges, so
   * `|KS_binned − KS_exact| ≤` the largest single-bucket mass
   * fraction — drive `bins` up until that bound is inside the
   * decision threshold. Same output shape as [[ksDrift]].
   */
  def ksDriftBinned(df: DataFrame, valueCol: String, flagCol: String,
                    a: String, b: String, bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val base = df
      .filter(col(flagCol).isin(a, b) && col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("__v"),
        (col(flagCol) === a).cast("long").as("__ia"),
        (col(flagCol) === b).cast("long").as("__ib"))
    val span = base.agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    val binned = base.join(broadcast(span))
      // degenerate span (all values equal) → everything in bin 0
      .withColumn("__bin",
        when(col("__hi") === col("__lo"), lit(0L))
          .otherwise(least(lit(bins - 1).cast("long"),
            floor((col("__v") - col("__lo")) * bins / (col("__hi") - col("__lo"))))))
      .groupBy("__bin")
      .agg(sum(col("__ia")).as("__ia"), sum(col("__ib")).as("__ib"))
    ksGap(binned, "__bin")
  }

  /**
   * k-anonymity audit: the equivalence classes over the
   * quasi-identifier columns with FEWER than `k` rows — the records a
   * release would expose (any row in a class of size < k is
   * re-identifiable by joining the QI columns against an external
   * dataset). Returns the at-risk classes (`qiCols`…, n); an empty
   * result certifies k-anonymity. Null QI values form classes like
   * any other value (SQL grouping semantics — a null zip code is
   * still a fingerprint).
   *
   * One hash aggregation; the output is bounded by the at-risk
   * classes, which a near-anonymous dataset keeps tiny.
   */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], k: Long): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymity needs quasi-identifier columns")
    require(k >= 2, s"k must be >= 2, got $k")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
  }

  /**
   * l-diversity audit — [[kAnonymity]]'s sensitive-attribute
   * companion: a QI class can be k-anonymous yet leak everything if
   * all its members share one sensitive value. Emits the
   * quasi-identifier classes whose SENSITIVE column has fewer than
   * `l` distinct values (nulls in the sensitive column do not count
   * as a value), with the class size and the distinct count.
   *
   * Output: (qiCols…, n, l_distinct) — at-risk classes only.
   *
   * Scale posture: one hash aggregation (count-distinct partials
   * collapse map-side); output bounded by the at-risk classes.
   */
  def lDiversity(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
                 l: Long): DataFrame = {
    require(qiCols.nonEmpty, "lDiversity needs quasi-identifier columns")
    require(l >= 2, s"l must be >= 2, got $l")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        count_distinct(col(sensitiveCol)).as("l_distinct"))
      .filter(col("l_distinct") < l)
  }

  /**
   * Join-key skew report — the diagnostic that decides between a
   * plain join, AQE skew handling, and [[graft.join.Joins.saltedJoin]]:
   * per candidate key column, the row count, distinct keys, the
   * hottest key's share, and `skew_factor = max_key_rows /
   * (n_rows / n_keys)` (1.0 = perfectly uniform). The hottest key
   * itself is surfaced (stringified) for blocklisting.
   *
   * One aggregation per key column over its (key, count) relation;
   * exact integers + one closing divide.
   */
  def skewReport(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "skewReport needs key columns")
    keyCols.map { k =>
      val counts = df.filter(col(k).isNotNull)
        .groupBy(col(k)).agg(count(lit(1)).as("__c"))
      counts
        .agg(sum("__c").as("n_rows"),
          count(lit(1)).as("n_keys"),
          max(col("__c")).as("max_key_rows"),
          max(struct(col("__c"), col(k).cast("string").as("k")))
            .getField("k").as("hottest_key"))
        .select(lit(k).as("key_col"), col("n_rows"), col("n_keys"),
          col("max_key_rows"), col("hottest_key"),
          (col("max_key_rows").cast("double") /
            (col("n_rows").cast("double") / col("n_keys").cast("double")))
            .as("skew_factor"))
    }.reduce(_ unionByName _)
  }

  /**
   * Conversion rates with Wilson-score confidence intervals per
   * segment: `successes / trials` plus the interval that stays inside
   * [0, 1] and behaves at small n (the A/B-dashboard standard;
   * a normal-approximation interval goes negative exactly where
   * decisions are hardest). `z` defaults to 1.96 (95%).
   *
   * Pinned arithmetic: `p̂ = s/n`, `center = (p̂ + z²/2n) / (1 + z²/n)`,
   * `half = z·sqrt(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)` — every operand a
   * fixed-order IEEE op over exact integers, so the bounds
   * hash-verify cross-engine. One aggregation pass.
   */
  def conversionRates(df: DataFrame, groupCols: Seq[String],
                      successCond: Column, z: Double = 1.96): DataFrame = {
    require(groupCols.nonEmpty, "conversionRates needs group columns")
    val agg = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_trials"),
        sum(when(successCond, 1L).otherwise(0L)).as("n_success"))
    val n = col("n_trials").cast("double")
    val p = col("n_success").cast("double") / n
    val z2 = lit(z) * lit(z)
    val denom = lit(1.0) + z2 / n
    val center = (p + z2 / (lit(2.0) * n)) / denom
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / n +
      z2 / (lit(4.0) * n * n)) / denom
    agg
      .withColumn("rate", p)
      // Wilson bounds live in [0,1] mathematically; the clamp removes
      // the float fuzz (0/n computes center−half ≈ −3e-17)
      .withColumn("ci_low", greatest(lit(0.0), center - half))
      .withColumn("ci_high", least(lit(1.0), center + half))
  }

  /** One foreign-key relationship for [[referentialIntegrity]]. */
  final case class FkSpec(name: String, childCols: Seq[String],
                          parent: DataFrame, parentCols: Seq[String]) {
    require(childCols.nonEmpty && childCols.length == parentCols.length,
      s"FK $name: child/parent key arity mismatch")
  }

  /**
   * Referential-integrity audit: for each declared FK, how many child
   * rows point at a parent key that does not exist — the
   * dimension-join health check every warehouse load needs before
   * downstream joins silently drop rows (or, worse, an inner join
   * "loses revenue"). Null FK values are NOT violations (SQL FK
   * semantics); they're excluded from `n_rows`.
   *
   * Output: one row per FK — (fk, n_rows, n_orphans,
   * n_distinct_orphans).
   *
   * Scale posture: per FK, one distinct-project of the parent keys
   * and one join against the child keyed on the FK columns (AQE
   * broadcasts dimension-sized parents); counts aggregate map-side.
   * Orphan DISTINCT counts are exact — they are bounded by the
   * violating keyspace, which a healthy pipeline keeps tiny.
   */
  def referentialIntegrity(child: DataFrame, fks: Seq[FkSpec]): DataFrame = {
    require(fks.nonEmpty, "referentialIntegrity needs at least one FK")
    fks.map { fk =>
      val c = child
        .filter(fk.childCols.map(col(_).isNotNull).reduce(_ && _))
        .select(fk.childCols.map(col): _*)
      val pk = fk.parentCols.zipWithIndex.map { case (p, i) => s"__pk_$i" }
      val p = fk.parent
        .select(fk.parentCols.zip(pk).map { case (a, b) => col(a).as(b) }: _*)
        .distinct()
        .withColumn("__hit", lit(1))
      val cond = fk.childCols.zip(pk)
        .map { case (a, b) => col(a) === col(b) }.reduce(_ && _)
      val orphanKey = when(col("__hit").isNull,
        struct(fk.childCols.map(col): _*))
      c.join(p, cond, "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_orphans"),
          count_distinct(orphanKey).as("n_distinct_orphans"))
        .select(lit(fk.name).as("fk"), col("n_rows"), col("n_orphans"),
          col("n_distinct_orphans"))
    }.reduce(_ unionByName _)
  }

  /**
   * Benford's-law first-digit drift: the distribution of first
   * significant digits against `log10(1 + 1/d)` — the classic
   * fabricated-data / broken-ETL tripwire for naturally-occurring
   * amounts (prices, populations, file sizes).
   *
   * `valueCol` must be EXACT-DECIMAL-representable (a money column, a
   * count) — it is cast to `decimal(18, scale)` and the digit read
   * from the decimal's string form, so digit extraction is
   * engine-exact (extracting from a raw double's string would hash
   * differently across engines' float formatting). Values that carry
   * no significant digit (zero, null) are excluded.
   *
   * The expected shares are the pinned [[BenfordP]] literals (not
   * runtime transcendentals), so every output cell is fixed-order
   * integer/IEEE arithmetic: `expected = N · p_d`, `term =
   * (o − e)²/e`, and `chisq` folds the 9 terms in digit order.
   *
   * Output: 9 rows (digit, n_obs, expected, chisq) — chisq repeated
   * per row (one statistic over the digit histogram).
   *
   * Scale posture: one projection + a 9-bucket aggregate; everything
   * after runs on 9 rows.
   */
  def benfordDrift(df: DataFrame, valueCol: String,
                   scale: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = BenfordP.zipWithIndex.map { case (p, i) => (i + 1, p) }
      .toDF("digit", "__p")
    val digit = substring(
      regexp_replace(col(valueCol).cast(s"decimal(18,$scale)").cast("string"),
        "[^1-9]", ""), 1, 1)
    val obs = df
      .select(digit.as("__d"))
      .filter(col("__d") =!= "")
      .groupBy(col("__d").cast("int").as("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val joined = broadcast(dim).join(obs, Seq("digit"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
    val total = joined.agg(sum("n_obs").as("__n"))
    val e = col("__n").cast("double") * col("__p")
    val term = (col("n_obs").cast("double") - e) *
      (col("n_obs").cast("double") - e) / e
    val terms = joined.crossJoin(broadcast(total))
      .filter(col("__n") > 0) // empty input → empty result, not 0/0
      .select(col("digit"), col("n_obs"), e.as("expected"),
        term.as("__term"))
    val chisq = terms.groupBy()
      .agg(aggregate(sort_array(collect_list(struct(col("digit").as("d"),
          col("__term").as("t")))),
        lit(0.0), (acc, x) => acc + x.getField("t")).as("chisq"))
    terms.crossJoin(broadcast(chisq))
      .select(col("digit"), col("n_obs"), col("expected"), col("chisq"))
  }

  /**
   * Mann-Whitney U (Wilcoxon rank-sum) two-sample test: does
   * `valueCol` tend larger in group `a` than group `b`? The
   * nonparametric A/B-test companion to [[ksDrift]] — KS asks "are
   * the distributions different anywhere", U asks the directional
   * "does one stochastically dominate".
   *
   * Pinned (engine-reproducible):
   *  - ranks are MIDRANKS: `rank() + (ties − 1)/2.0` over the pooled
   *    sample — every term is a multiple of 0.5, so the rank-sum is
   *    EXACT in double arithmetic in any addition order;
   *  - `U_a = R_a − n_a(n_a+1)/2`, `U_b = n_a·n_b − U_a`;
   *  - normal approximation WITH tie correction:
   *    `z = (U_a − n_a n_b/2) / sqrt((n_a n_b/12)·((N+1) − T/(N(N−1))))`
   *    where `T = Σ(t³−t)` over tie groups, computed row-wise as
   *    `Σ(t²−1)` (each tie group of size t contributes t·(t²−1));
   *    a fully-tied sample has σ = 0 → null z.
   *
   * Output: one row (n_a, n_b, u_a, u_b, z); empty either side →
   * empty result.
   *
   * Scale posture: like [[ksDrift]], the exact statistic needs a
   * total order — a single-task ranking window after an all-to-one
   * exchange, correct to ~10^8 rows. The aggregation itself is one
   * pass; at corpus scale, or per key, use
   * [[graft.agg.Stats.mannWhitneyU]] — the grid-collapsed grouped
   * form of the same statistic (ranks value GROUPS, never rows).
   */
  def mannWhitneyU(df: DataFrame, valueCol: String, flagCol: String,
                   a: String, b: String): DataFrame = {
    val base = df
      .filter(col(flagCol).isin(a, b) && col(valueCol).isNotNull)
      .select(col(valueCol).as("__v"),
        (col(flagCol) === a).cast("long").as("__ia"),
        (col(flagCol) === b).cast("long").as("__ib"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
    // peers frame: tie sizes ride the SAME global sort (one exchange)
    val ties = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
      .rangeBetween(org.apache.spark.sql.expressions.Window.currentRow,
        org.apache.spark.sql.expressions.Window.currentRow)
    val ranked = base
      .withColumn("__t", count(lit(1)).over(ties))
      .withColumn("__mr",
        rank().over(w) + (col("__t") - lit(1)) / lit(2.0))
    val agg = ranked.agg(
      sum("__ia").as("n_a"), sum("__ib").as("n_b"),
      sum(when(col("__ia") === 1, col("__mr"))).as("__ra"),
      sum(col("__t") * col("__t") - 1).as("__tie"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = naD + nbD
    val ua = col("__ra") - naD * (naD + lit(1.0)) / lit(2.0)
    val sigSq = (naD * nbD / lit(12.0)) *
      ((nD + lit(1.0)) - col("__tie").cast("double") / (nD * (nD - lit(1.0))))
    agg
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("u_a", ua)
      .withColumn("u_b", naD * nbD - col("u_a"))
      .withColumn("z",
        when(sigSq > 0,
          (col("u_a") - naD * nbD / lit(2.0)) / sqrt(sigSq)))
      .select(col("n_a"), col("n_b"), col("u_a"), col("u_b"), col("z"))
  }

  /**
   * Population Stability Index per segment: how far each segment's
   * `valueCol` distribution drifts from the POOLED distribution, over
   * quantile bins of the pooled data — the standard model-monitoring
   * drift score (PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25 major).
   * Complements [[ksDrift]] (two-sample, exact) and χ²
   * token drift (categorical): PSI is the many-segment numeric form.
   *
   * Pinned rules (engine-reproducible):
   *  - bin edges = EXACT discrete percentiles `ps` of the pooled
   *    non-null values ([[graft.agg.GroupBy.percentilesDisc]]), label
   *    `1 + |{edge < v}|` (equal→lower, the binByQuantiles rule);
   *  - PSI term = `(q − p) · ln(q / p)` with `q` = segment share,
   *    `p` = pooled share of the bin; a bin the segment never hits
   *    (q = 0) contributes 0 and is COUNTED in `n_empty_bins` instead
   *    of inventing an epsilon — callers see exactly how much of the
   *    score the zero-bins rule suppressed. Pooled-empty bins cannot
   *    occur (every labeled bin has ≥ 1 pooled row by construction);
   *  - the per-segment sum folds in bin order over a ≤ |ps|+1
   *    element array (deterministic double addition).
   *
   * Output: (`segCol`, n_rows, n_bins, n_empty_bins, psi).
   *
   * Scale posture: edges are the single-task exact-rank sort — right
   * up to ~10^8 rows; past that feed `approxQuantile` edges through
   * the same labeling (see [[graft.agg.GroupBy.binByEdges]]). The
   * labeling side is a broadcast-join fold (scale-free), counts are
   * ONE (segment, bin) shuffle, and everything downstream runs on
   * |segments| × bins grid rows with the bin table broadcast.
   */
  def psiDrift(df: DataFrame, valueCol: String, segCol: String,
               ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "need at least one interior percentile")
    val base = df.filter(col(valueCol).isNotNull && col(segCol).isNotNull)
    val edges = graft.agg.GroupBy.percentilesDisc(base, Nil, valueCol, ps,
        out = "__edge")
      .groupBy()
      .agg(sort_array(collect_list(col("__edge"))).as("__edges"))
    val counts = graft.agg.GroupBy.binByEdges(base, valueCol, edges,
        out = "__bin")
      .groupBy(col(segCol), col("__bin"))
      .agg(count(lit(1)).as("__o"))
      // consumers: pooled histogram, segment totals, observed join
      .localCheckpoint(false)
    val ref = counts.groupBy("__bin").agg(sum("__o").as("__c"))
    val tot = ref.agg(sum("__c").as("__t"))
    val segTot = counts.groupBy(segCol).agg(sum("__o").as("__s"))
    val p = col("__c").cast("double") / col("__t").cast("double")
    val q = col("__o").cast("double") / col("__s").cast("double")
    val term = when(col("__o") > 0,
      (q - p) * graft.functions.MathFunctions.libmLog(q / p)).otherwise(lit(0.0))
    segTot
      .crossJoin(broadcast(ref))
      .crossJoin(broadcast(tot))
      .join(counts, Seq(segCol, "__bin"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L)))
      .select(col(segCol), col("__s"), col("__bin"), col("__o"),
        term.as("__term"))
      .groupBy(segCol)
      .agg(min("__s").as("n_rows"),
        count(lit(1)).as("n_bins"),
        sum(when(col("__o") === 0, 1L).otherwise(0L)).as("n_empty_bins"),
        aggregate(sort_array(collect_list(struct(col("__bin").as("b"),
            col("__term").as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("psi"))
  }

  /** Benford's-law first-digit probabilities log10(1 + 1/d), d = 1…9,
   *  as PINNED double literals — both engines parse the same decimal
   *  string to the same double, where a runtime log10 would hang the
   *  expectation on each engine's libm. */
  val BenfordP: Seq[Double] = Seq(
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)

  /**
   * Benford's-law first-digit deviation per group — the forensic
   * audit signal for money columns: organically-grown amounts follow
   * `P(d) = log10(1+1/d)`; fabricated, capped, or template-generated
   * figures don't. Emits the χ² statistic against the Benford
   * expectation and the mean absolute deviation (MAD, the
   * Nigrini-style effect size that χ² inflates on huge n).
   *
   * Relation to [[benfordDrift]]: that one emits the GLOBAL 9-row
   * digit histogram (per-digit observed/expected detail, one
   * statistic); this is the grouped single-row-per-key score for
   * sweeping many segments at once — same pinned expectations, same
   * fixed-order χ² fold.
   *
   * Values are read on the cent grid (`round(v·100)` — the
   * [[graft.ops.Allocate]] money convention); rows with null,
   * non-positive, or sub-cent values are excluded (no first digit).
   * First digit extraction is string-of-integer truncation —
   * identical in every engine, no float log10 involved. χ² sums its
   * nine terms in fixed digit order; with exact counts and the
   * pinned [[BenfordP]] literals the statistic replays bit-for-bit.
   *
   * Output: (keys…, n, chi2, mad).
   *
   * Scale posture: ONE map-side-combined aggregation (count + nine
   * conditional sums); the closing arithmetic runs on |groups| rows.
   */
  def benfordDeviation(df: DataFrame, keys: Seq[String],
                       valueCol: String): DataFrame = {
    val cents = round(col(valueCol).cast("double") * 100).cast("long")
    val digit = substring(cents.cast("string"), 1, 1)
    val base = df.filter(col(valueCol).isNotNull && cents >= 1)
    val aggs = count(lit(1)).as("n") +: (1 to 9).map(d0 =>
      sum(when(digit === d0.toString, 1L).otherwise(0L)).as(s"__d$d0"))
    val m = base.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val n = col("n").cast("double")
    def term(d0: Int) = {
      val e = n * lit(BenfordP(d0 - 1))
      val o = col(s"__d$d0").cast("double")
      (o - e) * (o - e) / e
    }
    def adev(d0: Int) =
      abs(col(s"__d$d0").cast("double") / n - lit(BenfordP(d0 - 1)))
    val chi2 = (1 to 9).map(term).reduce(_ + _)
    val mad = (1 to 9).map(adev).reduce(_ + _) / lit(9.0)
    m.select(keys.map(col) ++ Seq(col("n"),
      when(col("n") > 0, chi2).as("chi2"),
      when(col("n") > 0, mad).as("mad")): _*)
  }
  /**
   * Functional-dependency profile: does `detCols → depCol` hold, and
   * where does it break? For each determinant value: row count, the
   * number of DISTINCT dependent values (1 = the FD holds there), the
   * majority dependent value and its support, and the violation count
   * (rows disagreeing with the majority) — the data-profiling primitive
   * behind "is zip → city actually a function in this feed", schema
   * inference, and denormalization safety checks.
   *
   * The majority value breaks ties by value ascending (a total order
   * on observable columns — the q207 discipline), so the output is
   * engine-exact. Null dependent values count as a distinct class
   * (an FD that maps to null sometimes is still broken); null
   * determinants profile like any other value.
   *
   * Output: (detCols…, n, n_distinct_dep, majority_dep STRING,
   * majority_support, n_violations).
   *
   * Scale posture: one (det, dep)-keyed map-side-combined count, then
   * the majority pick and totals ride ONE det-keyed exchange (window
   * + aggregate on the same partitioning). The profile relation is
   * grid-sized, never row-sized.
   */
  def functionalDependency(df: DataFrame, detCols: Seq[String],
                           depCol: String): DataFrame = {
    require(detCols.nonEmpty, "functionalDependency needs determinant columns")
    import org.apache.spark.sql.expressions.Window
    val grid = df
      .groupBy(detCols.map(col) :+
        col(depCol).cast("string").as("__dep"): _*)
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(detCols.map(col): _*)
      .orderBy(col("__c").desc, col("__dep").asc_nulls_last)
    grid
      .withColumn("__rk", row_number().over(w))
      .groupBy(detCols.map(col): _*)
      .agg(sum(col("__c")).as("n"),
        count(lit(1)).as("n_distinct_dep"),
        max(when(col("__rk") === 1, col("__dep"))).as("majority_dep"),
        max(when(col("__rk") === 1, col("__c"))).as("majority_support"))
      .withColumn("n_violations", col("n") - col("majority_support"))
  }

  /**
   * Order-independent table fingerprint per group: each row's
   * canonical projection digests to MD5, and the digests reduce by
   * XOR, a modular sum (mod 2⁶¹−1), and min/max — the cross-system
   * integrity check ("did the copy/migration land intact?") that
   * works at 100 TB because every reduction is COMMUTATIVE: no global
   * sort, no single-threaded hash chain, one map-side-combined
   * aggregate, and the same fingerprint from any engine, partition
   * count, or row order. XOR alone is blind to paired duplicate rows;
   * the count + modular sum + extremes close that hole for practical
   * drift detection (any single-row change flips all three signals).
   *
   * Canonicalization: each column casts to its string form
   * ('|'-joined; nulls become U+0001, distinct from the empty
   * string). Cross-engine string forms agree for STRING and INTEGER
   * columns — the supported domain; pre-format doubles/timestamps
   * explicitly (engine float formatting differs).
   *
   * The 60-bit lane: the first 15 hex chars of the MD5 parse to a
   * long — wide enough that a colliding pair of DIFFERING tables
   * needs ~2³⁰ rows (birthday) AND must simultaneously fool the sum,
   * count, and extremes. All four reductions run over this long lane
   * (never the hex string — a string min/max buffer would demote the
   * whole aggregate to SortAggregate, a per-partition sort the
   * fixed-width long lane avoids: pure HashAggregate at any scale).
   *
   * Output: (keys…, n, xor_sig, sum_sig, min_sig, max_sig).
   *
   * Scale posture: ONE full pass, ONE map-side-combined
   * HashAggregate on the group keys. Nothing is collected; nothing
   * is sorted.
   */
  def tableFingerprint(df: DataFrame, keys: Seq[String],
                       cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "tableFingerprint needs at least one column")
    val canon = concat_ws("|",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0001"))): _*)
    val h = conv(substring(md5(canon), 1, 15), 16, 10).cast("long")
    df.select(keys.map(col) :+ h.as("__h"): _*)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        expr("bit_xor(__h)").as("xor_sig"),
        (sum(col("__h").cast("decimal(38,0)")) %
          lit(2305843009213693951L)).cast("long").as("sum_sig"),
        min(col("__h")).as("min_sig"),
        max(col("__h")).as("max_sig"))
  }

  /**
   * Key-skew profile: for each candidate key column, the top-k
   * heaviest values with their row share — the pre-flight diagnostic
   * for "will this column shuffle evenly as a join/groupBy key at
   * 1000 executors, or does one value own half the table?". Per
   * column it also carries `n_rows` (non-null) and `n_distinct`, so
   * `share · n_distinct` reads directly as the skew factor vs a
   * uniform key (1 = perfectly even).
   *
   * Values profile as strings (one melt over any column types); nulls
   * are excluded from the profile (they'd join/group into their own
   * stream anyway — [[kAnonymity]] territory, not skew). Ranks break
   * ties by value ASC (total order); `share` is one pinned IEEE
   * division per emitted row.
   *
   * Output: (column, value, n, rank, share, n_rows, n_distinct) —
   * k rows per profiled column (fewer when the column has fewer
   * distinct values).
   *
   * Scale posture: ONE scan feeds the melt generator; the (column,
   * value) collapse is map-side combined; the rank cut collapses via
   * WindowGroupLimit on the per-column exchange; the per-column
   * totals ride the SAME collapsed grid (a second aggregation over
   * |distinct values| rows, not the corpus). Nothing row-sized
   * crosses the wire twice.
   */
  def skewProfile(df: DataFrame, cols: Seq[String], k: Int = 10)
  : DataFrame = {
    require(cols.nonEmpty, "skewProfile needs columns")
    require(k > 0, s"k must be positive, got $k")
    val melted = graft.ops.Transforms.melt(df, Nil, cols,
        varName = "column", valueName = "value", valueType = "string")
      .filter(col("value").isNotNull)
    val grid = melted.groupBy(col("column"), col("value"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val totals = grid.groupBy(col("column"))
      .agg(sum(col("n")).cast("long").as("n_rows"),
        count(lit(1)).as("n_distinct"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("column"))
      .orderBy(col("n").desc, col("value").asc)
    grid.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .join(totals, Seq("column"))
      .withColumn("share",
        col("n").cast("double") / col("n_rows").cast("double"))
      .select(col("column"), col("value"), col("n"), col("rank"),
        col("share"), col("n_rows"), col("n_distinct"))
  }

  /**
   * Missingness-pattern profile: the histogram of null-indicator
   * COMBINATIONS over `cols` — which null patterns co-occur, the data-
   * quality readout behind "are these fields missing together (one
   * upstream source down) or independently (random loss)?" that
   * per-column null rates cannot answer.
   *
   * `pattern` is `col=0/1` pairs joined by `,` in the CALLER's column
   * order (1 = present); `share` is the pattern's row fraction, ranks
   * by count descending with the pattern string as tie-break (total
   * order).
   *
   * Output: (pattern, n, share, rank).
   *
   * Scale posture: ONE map-side-combined aggregation on the pattern
   * string (≤ 2^|cols| groups); the total comes back over the
   * collapsed grid's single-partition window, never a second corpus
   * pass.
   */
  def missingnessPatterns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "missingnessPatterns needs columns")
    import org.apache.spark.sql.expressions.Window
    val pattern = concat_ws(",", cols.map(c =>
      concat(lit(c + "="), when(col(c).isNotNull, lit("1"))
        .otherwise(lit("0")))): _*)
    val g = df.groupBy(pattern.as("pattern"))
      .agg(count(lit(1)).as("n"))
    val wAll = Window.partitionBy()
    g.withColumn("share",
        col("n").cast("double") / sum(col("n")).over(wAll).cast("double"))
      .withColumn("rank", row_number().over(Window
        .orderBy(col("n").desc, col("pattern").asc)))
      .select(col("pattern"), col("n"), col("share"), col("rank"))
  }

  /**
   * One declarative expectation — the check-suite-as-DATA shape
   * (great-expectations' `expect_*` vocabulary): `kind` picks the
   * check, the remaining fields parameterize it, and
   * `maxViolationRate` is GE's "mostly" tolerance (a row-level
   * expectation passes when `violations/n_rows <= maxViolationRate`;
   * the default 0.0 means every row must comply).
   *
   * Row-level kinds (count violating rows):
   *  - `not_null`    — null values of `column`
   *  - `between`     — non-null `column` outside `[lo, hi]` (cast to
   *                    double; either bound optional)
   *  - `in_set`      — non-null `column` not in `values`
   *  - `matches`     — non-null `column` not rlike `values.head`
   *  - `unique`      — duplicated non-null values (violations =
   *                    non-null count − distinct count)
   * Table-level kinds (check an observed scalar against `[lo, hi]`):
   *  - `row_count_between`      — observed = n_rows
   *  - `distinct_count_between` — observed = exact distinct count of
   *                               `column` (nulls excluded)
   *  - `mean_between`           — observed = mean of `column` on the
   *                               10⁻⁶ decimal grid (EXACT sum, one
   *                               pinned division — engine-replayable,
   *                               unlike an IEEE running mean)
   * Schema kind (no scan):
   *  - `exists`      — `column` present in the schema
   */
  final case class Expectation(
      name: String,
      kind: String,
      column: String = "",
      lo: Option[Double] = None,
      hi: Option[Double] = None,
      values: Seq[String] = Seq.empty,
      maxViolationRate: Double = 0.0)

  private val rowKinds =
    Set("not_null", "between", "in_set", "matches", "unique")
  private val aggKinds =
    Set("row_count_between", "distinct_count_between", "mean_between")

  private def validateSuite(suite: Seq[Expectation]): Unit = {
    require(suite.nonEmpty, "expectations needs a non-empty suite")
    suite.foreach { e =>
      require(e.kind == "exists" || rowKinds(e.kind) || aggKinds(e.kind),
        s"unknown expectation kind '${e.kind}' (${e.name})")
      require(e.kind == "row_count_between" || e.column.nonEmpty,
        s"expectation ${e.name} (${e.kind}) needs a column")
      require(e.kind != "matches" || e.values.nonEmpty,
        s"expectation ${e.name}: matches needs the regex in values")
      require(e.kind != "in_set" || e.values.nonEmpty,
        s"expectation ${e.name}: in_set needs allowed values")
      require(!(e.kind.endsWith("_between") || e.kind == "between") ||
        e.lo.nonEmpty || e.hi.nonEmpty,
        s"expectation ${e.name}: needs lo and/or hi")
      require(e.maxViolationRate >= 0.0 && e.maxViolationRate <= 1.0,
        s"expectation ${e.name}: maxViolationRate in [0,1]")
    }
  }

  /**
   * Declarative check-suite runner — [[validate]]'s rule table as
   * DATA and its report as a DATAFRAME: evaluate every
   * [[Expectation]] against `df` in ONE aggregation pass (plus the
   * Expand pass exact distinct counts plan) and return one row per
   * expectation:
   *
   * `(name, kind, column, n_rows, violations, violation_rate,
   * observed, passed, detail)` — `violations`/`violation_rate` for
   * row-level kinds (null otherwise), `observed` for table-level
   * kinds (null otherwise), `passed` never null. `detail` is a
   * fixed human-readable restatement of the check (numbers live in
   * the typed columns, so the string is stable for diffing).
   *
   * The suite itself can ride from ANY source — a parquet of
   * expectations, a config file, a literal Seq — which is the point:
   * checks become reviewable data, not code. Compose with
   * `.filter(!$"passed")` as the CI gate, or [[expectationsOrThrow]]
   * for the fail-fast form.
   *
   * Scale posture: one corpus aggregation carries every conditional
   * count and exact decimal sum (map-side combined); distinct counts
   * ride the same aggregate (Catalyst plans multi-distinct via one
   * Expand of input×distinct-exprs — right for a handful of
   * `unique`/`distinct_count_between` expectations; prefer
   * [[profile]]'s approx mode for wide all-column uniqueness scans).
   * The report is [[expectationsByKey]]'s over no keys — the same
   * aggregate and Column closing; `groupBy()` is a global aggregate,
   * so even an empty frame yields its one row per expectation. It is
   * collected at call time and returned as suite-sized driver data
   * (a one-partition local relation): reading it never rescans the
   * corpus, so [[expectationsOrThrow]] scans it once.
   */
  def expectations(df: DataFrame, suite: Seq[Expectation]): DataFrame = {
    validateSuite(suite)
    val report = expectationReport(df, Nil, suite)
    df.sparkSession.createDataFrame(
        java.util.Arrays.asList(report.collect(): _*), report.schema)
      .coalesce(1)
  }

  private def boundsDetail(what: String, e: Expectation): String =
    (e.lo, e.hi) match {
      case (Some(l), Some(h)) => s"$what in [$l, $h]"
      case (Some(l), None) => s"$what >= $l"
      case (None, Some(h)) => s"$what <= $h"
      case _ => what
    }

  /**
   * [[expectations]] with the suite itself loaded FROM a DataFrame —
   * the full "checks are data" loop: keep the expectation table in
   * parquet (or any source), review changes to it like schema
   * migrations, and run it against any frame. `suiteDf` columns:
   * `name` and `kind` (strings, required); `column` (string,
   * optional), `lo`/`hi` (castable to double, optional), `values`
   * (array of strings OR a single `,`-separated string, optional),
   * `max_violation_rate` (double, optional, default 0). Unknown
   * extra columns are ignored; unknown kinds fail fast with the
   * offending row's name (the suite is config — fail loudly).
   *
   * The suite collect is suite-sized (checks are data, but SMALL
   * data); the evaluation is [[expectations]]'s single pass.
   */
  def expectationsFrom(df: DataFrame, suiteDf: DataFrame): DataFrame = {
    val cols = suiteDf.columns.toSet
    require(cols.contains("name") && cols.contains("kind"),
      "expectationsFrom: suite needs 'name' and 'kind' columns")
    def opt(c: String): Column =
      if (cols.contains(c)) col(c) else lit(null)
    val vals: Column =
      if (!cols.contains("values")) lit(null).cast("array<string>")
      else suiteDf.schema("values").dataType match {
        case _: org.apache.spark.sql.types.ArrayType =>
          col("values").cast("array<string>")
        case _ => split(col("values").cast("string"), ",")
      }
    val suite = suiteDf.select(
      col("name").cast("string"), col("kind").cast("string"),
      opt("column").cast("string"), opt("lo").cast("double"),
      opt("hi").cast("double"), vals.as("values"),
      opt("max_violation_rate").cast("double"))
      .collect().toSeq.map { r =>
        Expectation(
          name = r.getString(0), kind = r.getString(1),
          column = Option(r.getString(2)).getOrElse(""),
          lo = if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          hi = if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          values = if (r.isNullAt(5)) Seq.empty
            else r.getSeq[String](5).toSeq,
          maxViolationRate =
            if (r.isNullAt(6)) 0.0 else r.getDouble(6))
      }
    expectations(df, suite)
  }

  /**
   * [[expectations]] evaluated PER KEY — the per-segment quality
   * report ("is every tenant / day / source partition individually
   * healthy", which one global pass averages away): one report row
   * per (key, expectation), fully distributed (no driver collect —
   * the report is keys×suite-sized and stays a DataFrame).
   *
   * Same kinds and semantics as [[expectations]], applied within
   * each key group: `row_count_between` bounds the SEGMENT size,
   * `mean_between`/`distinct_count_between` bound per-segment
   * scalars, row-level kinds rate against the segment's rows.
   * `exists` stays a schema check (same answer every key). Keys with
   * zero rows do not appear (no segment, no report — use a spine
   * join upstream when absence itself must fail).
   *
   * Output: (keys…, name, kind, column, n_rows, violations,
   * violation_rate, observed, passed, detail).
   *
   * Scale posture: ONE map-side-combined key aggregation carries
   * every conditional count / exact decimal sum (multi-distinct via
   * Expand); the per-expectation rows explode from an in-row struct
   * array — suite-sized per key, no second pass, no union re-scan.
   */
  def expectationsByKey(df: DataFrame, keys: Seq[String],
                        suite: Seq[Expectation]): DataFrame = {
    require(keys.nonEmpty, "expectationsByKey needs key columns")
    validateSuite(suite)
    suite.foreach(e => require(!keys.contains(e.column) ||
      e.kind == "exists",
      s"expectation ${e.name}: checking a grouping key (${e.column}) " +
        "within its own groups is degenerate — check it globally"))
    expectationReport(df, keys, suite)
  }

  /**
   * The expectation report over `keys` (none = the global report):
   * ONE aggregation carries every conditional count / exact decimal
   * sum (multi-distinct via Expand); each expectation closes as
   * Columns into one struct, and the structs explode in-row — one
   * report row per (key, expectation), in suite order within a key.
   */
  private def expectationReport(df: DataFrame, keys: Seq[String],
                                suite: Seq[Expectation]): DataFrame = {
    val cols = df.columns.toSet
    def c(e: Expectation) = col(e.column)
    def n(i: Int, s: String) = s"__e${i}_$s"
    def missing(e: Expectation) = e.kind != "exists" &&
      e.kind != "row_count_between" && !cols.contains(e.column)
    // one agg column per expectation (indexed names — the same
    // column may appear under several expectations). count_if, not
    // countIf: over no keys an empty frame is still one group, and
    // its violation count is 0, not a null sum.
    val aggs = suite.zipWithIndex.flatMap { case (e, i) =>
      if (missing(e)) Seq.empty
      else e.kind match {
        case "not_null" => Seq(count_if(c(e).isNull).as(n(i, "v")))
        case "between" =>
          // try_cast, not cast: under ANSI a garbage value would
          // ABORT the whole suite; non-ANSI cast would return NULL
          // and silently skip it. A non-null value that fails the
          // numeric cast (e.g. "abc") counts as a violation.
          val d = c(e).try_cast("double")
          val bad = (e.lo.map(d < _) ++ e.hi.map(d > _)).reduce(_ || _)
          Seq(count_if(c(e).isNotNull && (d.isNull || bad)).as(n(i, "v")))
        case "in_set" =>
          Seq(count_if(c(e).isNotNull &&
            !c(e).cast("string").isin(e.values: _*)).as(n(i, "v")))
        case "matches" =>
          Seq(count_if(c(e).isNotNull &&
            !c(e).cast("string").rlike(e.values.head)).as(n(i, "v")))
        case "unique" =>
          Seq(count(c(e)).as(n(i, "nn")), count_distinct(c(e)).as(n(i, "d")))
        case "distinct_count_between" =>
          Seq(count_distinct(c(e)).as(n(i, "d")))
        case "mean_between" =>
          Seq(sum(c(e).cast("decimal(32,6)")).as(n(i, "s")),
            count(c(e)).as(n(i, "c")))
        case _ => Seq.empty // exists / row_count_between: n_rows only
      }
    }
    val g = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
    val nRows = col("n_rows")
    val nD = nRows.cast("double")
    def nullL = lit(null).cast("long")
    def nullD = lit(null).cast("double")
    def rate(v: Column) =
      when(nRows === 0L, lit(0.0)).otherwise(v.cast("double") / nD)
    def rateOk(v: Column, e: Expectation) =
      nRows === 0L || v.cast("double") / nD <= lit(e.maxViolationRate)
    def inB(x: Column, e: Expectation): Column =
      (e.lo.map(x >= _) ++ e.hi.map(x <= _))
        .reduceOption(_ && _).getOrElse(lit(true))
    val entries = suite.zipWithIndex.map { case (e, i) =>
      val (viol, obs, passed, detail): (Column, Column, Column, String) =
        if (missing(e))
          (nullL, nullD, lit(false),
            s"column ${e.column} absent from schema")
        else e.kind match {
          case "exists" =>
            (nullL, nullD, lit(cols.contains(e.column)),
              s"column ${e.column} present in schema")
          case "row_count_between" =>
            (nullL, nD, inB(nD, e), boundsDetail("row count", e))
          case "distinct_count_between" =>
            val d = col(n(i, "d")).cast("double")
            (nullL, d, inB(d, e), boundsDetail(s"distinct ${e.column}", e))
          case "mean_between" =>
            val m = when(col(n(i, "c")) > 0L,
              col(n(i, "s")).cast("double") / col(n(i, "c")).cast("double"))
            (nullL, m, m.isNotNull && inB(m, e),
              boundsDetail(s"mean ${e.column} (1e-6 grid)", e))
          case "unique" =>
            val v = col(n(i, "nn")) - col(n(i, "d"))
            (v, nullD, rateOk(v, e),
              s"duplicated non-null ${e.column} values")
          case kind =>
            val v = col(n(i, "v"))
            val what = kind match {
              case "not_null" => s"null ${e.column}"
              case "between" => boundsDetail(e.column, e)
              case "in_set" => s"${e.column} outside the allowed set"
              case _ => s"${e.column} not matching ${e.values.head}"
            }
            (v, nullD, rateOk(v, e), what)
        }
      struct(lit(e.name).as("name"), lit(e.kind).as("kind"),
        lit(e.column).as("column"),
        viol.cast("long").as("violations"),
        viol.isNotNull.as("__hasv"),
        obs.cast("double").as("observed"),
        passed.as("passed"), lit(detail).as("detail"))
    }
    g.select(keys.map(col) ++ Seq(nRows,
      explode(array(entries: _*)).as("__e")): _*)
      .select(keys.map(col) ++ Seq(col("__e.name").as("name"),
        col("__e.kind").as("kind"), col("__e.column").as("column"),
        col("n_rows"), col("__e.violations").as("violations"),
        when(col("__e.__hasv"), rate(col("__e.violations")))
          .as("violation_rate"),
        col("__e.observed").as("observed"),
        col("__e.passed").as("passed"),
        col("__e.detail").as("detail")): _*)
  }

  /** Fail-fast form of [[expectations]] — throws [[QualityException]]
   *  listing every failed expectation ([[validateOrThrow]]'s gate
   *  contract for the declarative suite). */
  def expectationsOrThrow(df: DataFrame, suite: Seq[Expectation]): Unit = {
    val failed = expectations(df, suite)
      .filter(!col("passed")).collect()
      .map(r => s"${r.getAs[String]("name")}: ${r.getAs[String]("detail")}")
    if (failed.nonEmpty) throw new QualityException(failed.toSeq)
  }

  /**
   * Generate an expectation suite FROM the data — the onboarding
   * shape (great_expectations' profiler): run it once over a frame
   * you trust, review the suggested suite like a schema migration,
   * then replay it against every future batch via
   * [[expectationsFrom]]. Closes the profile → suite → evaluate loop.
   *
   * Suggested per column, from observed statistics only:
   *  - `exists` — always (schema drift is the first thing to catch);
   *  - `not_null` — `max_violation_rate` 0 when the column is
   *    null-free today, else the observed null rate widened by
   *    `slack` (a column that is 2% null today shouldn't fail CI at
   *    2.01% tomorrow);
   *  - `between` — numeric columns: observed [min, max] widened by
   *    `slack` × range on each side (dates/timestamps/strings don't
   *    get numeric bounds — they ride exists/not_null/in_set);
   *  - `in_set` — string columns whose EXACT distinct count is in
   *    [1, maxSetSize]: the sorted observed vocabulary;
   *  - `unique` — columns whose exact distinct count equals the
   *    non-null count (and at least one value);
   * plus one table-level `row_count_between` at ±`slack` around the
   * observed count. An EMPTY frame suggests only the exists rows and
   * `row_count_between [0, 0]` — there is nothing to learn from it.
   *
   * Returns the suite as a DATAFRAME in [[expectationsFrom]]'s input
   * schema `(name, kind, column, lo, hi, values, max_violation_rate)`
   * — checks are data: write it to parquet, diff it in review, feed
   * it straight back. Rows are (column, kind)-sorted; `values` is a
   * sorted array<string>.
   *
   * Scale posture: ONE full-corpus aggregation (count / nulls /
   * min / max per column, all map-side combined) plus one
   * approx_count_distinct per column riding the same pass as the
   * cardinality SCREEN; a second, candidate-only pass confirms exact
   * distinct counts (multi-distinct via Expand over screened columns
   * only) and collects vocabularies through a (column, value)
   * distinct whose output is bounded by candidates × maxSetSize —
   * the approx screen's generous margin (4× maxSetSize + 16; 0.8 ×
   * non-null for unique) means the SUGGESTIONS themselves depend
   * only on exact counts, never on sketch estimates. The suite
   * DataFrame is suite-sized (driver-built, one partition), like the
   * report it feeds.
   */
  def suggestExpectations(df: DataFrame, slack: Double = 0.05,
                          maxSetSize: Int = 20): DataFrame = {
    require(slack >= 0.0, s"slack must be >= 0, got $slack")
    require(maxSetSize >= 1, s"maxSetSize must be >= 1, got $maxSetSize")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types._
    val fields = df.schema.fields.toSeq
    def isNum(t: DataType): Boolean = t match {
      case _: NumericType => true
      case _ => false
    }
    // NO spread here (r19, measured): the three passes below are
    // all-column aggregations whose per-row work is too cheap to buy
    // back a round-robin shuffle of the full-width corpus — A/B at
    // sf0.1 read +0.8 s WITH Par.spread (three extra exchanges of raw
    // rows) vs the single-task partial aggs without it. The guide
    // §2.5 repartition-after-unsplittable-read lever only pays when
    // the scan-stage work dominates the reshuffle (see charLmScore,
    // bootstrapMeanCi, winnowFingerprints for cases where it does).
    val corpus = df
    // pass 1: one corpus aggregation — exact count/nulls/min/max,
    // approx distinct as the candidate screen
    val aggs = fields.zipWithIndex.flatMap { case (f, i) =>
      def n(s: String) = s"__c${i}_$s"
      val c = col(df.columns(i))
      Seq(count(c).as(n("nn")),
        approx_count_distinct(c, 0.02).as(n("ad"))) ++
        (if (isNum(f.dataType))
          Seq(min(c.cast("double")).as(n("mn")),
            max(c.cast("double")).as(n("mx")))
        else Seq.empty)
    }
    val row = corpus.agg(count(lit(1)).as("__n"), aggs: _*).collect()(0)
    val nRows = row.getAs[Long]("__n")
    def nn(i: Int) = row.getAs[Long](s"__c${i}_nn")
    def ad(i: Int) = row.getAs[Long](s"__c${i}_ad")
    // candidate screens — generous enough that the 2%-rsd sketch can
    // never exclude a true positive; exact pass 2 decides
    val setCand = fields.zipWithIndex.filter { case (f, i) =>
      f.dataType == StringType && nn(i) > 0 &&
        ad(i) <= 4L * maxSetSize + 16L
    }.map(_._2)
    val uniqCand = fields.zipWithIndex.filter { case (_, i) =>
      nn(i) > 0 && ad(i) >= (0.8 * nn(i)).toLong
    }.map(_._2)
    // pass 2 (candidate-only): exact distinct counts in one agg
    val exactDistinct: Map[Int, Long] =
      if (setCand.isEmpty && uniqCand.isEmpty) Map.empty
      else {
        val cand = (setCand ++ uniqCand).distinct.sorted
        val das = cand.map(i =>
          count_distinct(col(df.columns(i))).as(s"__d$i"))
        val r = corpus.agg(das.head, das.tail: _*).collect()(0)
        cand.map(i => i -> r.getAs[Long](s"__d$i")).toMap
      }
    // pass 2b: vocabularies for confirmed in_set columns — a
    // (column, value) distinct, output <= confirmed × maxSetSize
    val setCols = setCand.filter(i =>
      exactDistinct(i) >= 1L && exactDistinct(i) <= maxSetSize)
    val vocab: Map[Int, Seq[String]] =
      if (setCols.isEmpty) Map.empty
      else {
        val entries = setCols.map(i => struct(
          lit(i).as("i"), col(df.columns(i)).cast("string").as("v")))
        corpus.select(explode(array(entries: _*)).as("e"))
          .select($"e.i".as("i"), $"e.v".as("v"))
          .filter($"v".isNotNull).distinct().collect()
          .groupBy(_.getAs[Int]("i"))
          .map { case (i, rs) =>
            i -> rs.map(_.getAs[String]("v")).toSeq.sorted }
      }
    final case class S(name: String, kind: String, column: String,
                       lo: Option[Double], hi: Option[Double],
                       values: Seq[String], mvr: Double)
    val perCol = fields.zipWithIndex.flatMap { case (f, i) =>
      val cn = df.columns(i)
      val exists = S(s"$cn exists", "exists", cn, None, None, Nil, 0.0)
      if (nRows == 0L) Seq(exists)
      else {
        val nullRate = (nRows - nn(i)).toDouble / nRows
        val notNull = S(s"$cn not_null", "not_null", cn, None, None,
          Nil, if (nullRate == 0.0) 0.0
               else math.min(1.0, nullRate * (1.0 + slack)))
        val between =
          if (isNum(f.dataType) && nn(i) > 0) {
            val mn = row.getAs[Double](s"__c${i}_mn")
            val mx = row.getAs[Double](s"__c${i}_mx")
            val pad = slack * (mx - mn)
            Seq(S(s"$cn between", "between", cn,
              Some(mn - pad), Some(mx + pad), Nil, 0.0))
          } else Seq.empty
        val inSet = vocab.get(i).map(vs =>
          S(s"$cn in_set", "in_set", cn, None, None, vs, 0.0)).toSeq
        val unique =
          if (uniqCand.contains(i) && exactDistinct(i) == nn(i))
            Seq(S(s"$cn unique", "unique", cn, None, None, Nil, 0.0))
          else Seq.empty
        Seq(exists, notNull) ++ between ++ inSet ++ unique
      }
    }
    val rowCount = S("row count", "row_count_between", "",
      Some(math.floor(nRows * (1.0 - slack))),
      Some(math.ceil(nRows * (1.0 + slack))), Nil, 0.0)
    val all = (perCol :+ rowCount).sortBy(s => (s.column, s.kind))
    all.map(s => (s.name, s.kind, s.column, s.lo, s.hi,
        s.values, s.mvr))
      .toDF("name", "kind", "column", "lo", "hi", "values",
        "max_violation_rate")
      .coalesce(1)
  }
}
