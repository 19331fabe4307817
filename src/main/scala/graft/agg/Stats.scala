package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Snap.{truncated, unscaled}

/**
 * Second-moment statistics (correlation, least squares) computed the
 * only way they can be both DISTRIBUTED and REPRODUCIBLE: every sum
 * (Σx, Σy, Σxy, Σx², Σy²) runs in DECIMAL — exact, order-independent,
 * engine-identical — and the closing formula is a handful of pinned
 * double operations over those exact sums. A naive `corr()` aggregates
 * doubles in partition order: answers drift run to run and can never
 * be hash-verified cross-engine; the decimal path costs one widening
 * cast per term and buys bit-stable statistics at any parallelism.
 *
 * Exactness envelope: inputs must be decimal-representable at the
 * declared scale (money columns, counts, epoch seconds); products and
 * sums must fit DECIMAL(38) — e.g. 10^9-magnitude x with 10^5-scale y
 * over 10^12 rows stays inside. Past that envelope, pre-aggregate or
 * rescale the inputs; don't fall back to double sums.
 *
 * Everything is ONE aggregation pass (all moments for all columns in
 * a single map-side-combined aggregate), then formula arithmetic on
 * the tiny moment relation.
 */
object Stats {

  private def d(c: Column): Column = c.cast("double")

  /**
   * Pairwise Pearson correlation matrix over `cols` (each declared
   * with its decimal scale): one row per unordered pair
   * (col_x, col_y, n, corr), listwise deletion (rows with ANY null
   * among `cols` are excluded, so every pair shares one n).
   *
   * `corr = (n·Σxy − Σx·Σy) / (sqrt(n·Σx² − Σx·Σx) · sqrt(n·Σy² −
   * Σy·Σy))`, every operand an exact decimal sum cast once to double;
   * a zero-variance column yields null (0/0 is not a correlation).
   */
  def pearsonMatrix(df: DataFrame, cols: Seq[(String, Int)]): DataFrame = {
    require(cols.length >= 2, "pearsonMatrix needs at least two columns")
    val base = df.filter(cols.map { case (c, _) => col(c).isNotNull }
      .reduce(_ && _))
    def dec(c: String, s: Int) = col(c).cast(s"decimal(18,$s)")
    val moments =
      count(lit(1)).as("__n") +:
        cols.flatMap { case (c, s) =>
          Seq(sum(dec(c, s)).as(s"__s_$c"),
            sum(dec(c, s) * dec(c, s)).as(s"__ss_$c"))
        } ++:
        cols.combinations(2).toSeq.map { case Seq((x, sx), (y, sy)) =>
          sum(dec(x, sx) * dec(y, sy)).as(s"__sxy_${x}_$y")
        }
    val m = base.agg(moments.head, moments.tail: _*)
    val pairs = cols.combinations(2).toSeq.map { case Seq((x, _), (y, _)) =>
      val r = Moments.Closing(col("__n"), col(s"__s_$x"), col(s"__s_$y"),
        col(s"__sxy_${x}_$y"), col(s"__ss_$x"), col(s"__ss_$y"), d)
      struct(lit(x).as("col_x"), lit(y).as("col_y"),
        col("__n").as("n"),
        when(r.vx > 0 && r.vy > 0, r.corr).as("corr"))
    }
    m.select(explode(array(pairs: _*)).as("__p")).select(col("__p.*"))
  }

  /**
   * Per-group ordinary least squares `y = slope·x + intercept` with
   * the Pearson r alongside — trend-per-segment over exact decimal
   * moments (same envelope and formula discipline as
   * [[pearsonMatrix]]):
   * `slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`,
   * `intercept = (Σy − slope·Σx) / n`.
   * Zero x-variance → null slope/intercept/corr. Rows with null x or
   * y are excluded.
   *
   * One shuffle on the group keys; the formula runs on |groups| rows.
   */
  def linearFit(df: DataFrame, groupCols: Seq[String],
                xCol: String, yCol: String,
                xScale: Int = 0, yScale: Int = 2): DataFrame = {
    // precision 18, not 19: an (19,s)·(19,s) product is precision 39,
    // which Spark caps to (38, s·2−1) — each x² then rounds its last
    // decimal digit while a HUGEINT-backed oracle keeps it exact. At
    // 18 every product is ≤ (37, 2s): inside the cap, exact.
    val x = col(xCol).cast(s"decimal(18,$xScale)")
    val y = col(yCol).cast(s"decimal(18,$yScale)")
    val m = Moments.closing()
    Moments.collapse(df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(groupCols.map(col): _*), x, y)
      .select(groupCols.map(col) ++ Seq(
        col("__n").as("n"),
        when(m.vx > 0, m.slope).as("slope"),
        when(m.vx > 0, m.intercept).as("intercept"),
        when(m.vx > 0 && m.vy > 0, m.corr).as("corr")): _*)
  }

  /**
   * Welch's unequal-variance t-test per group: for each key, compare
   * `valueCol` between the rows labeled `aLabel` and `bLabel` in
   * `groupCol` — the A/B-testing workhorse when variances differ
   * (always assume they do). Emits the t statistic and the
   * Welch-Satterthwaite degrees of freedom; p-values belong to the
   * caller's lookup (the incomplete beta is not engine-reproducible
   * arithmetic, t and dof are).
   *
   * Pinned arithmetic (the [[pearsonMatrix]] discipline): per-arm
   * count / Σx / Σx² as EXACT DECIMAL(18,2)-grid sums in ONE
   * aggregation pass, then a fixed IEEE composition: mean = s/n,
   * sample variance = (n·ss − s·s) / (n·(n−1)) — cross-multiplied,
   * single division — se² = v1/n1 + v2/n2 (left-to-right),
   * t = (m1 − m2)/sqrt(se²), dof = se²²/((v1/n1)²/(n1−1) +
   * (v2/n2)²/(n2−1)). sqrt is IEEE-correctly-rounded, so any engine
   * replays every bit. Arms with n < 2 (or zero variance in both
   * arms) yield null t/dof.
   *
   * Magnitude bound: v·v is computed at Spark's capped DECIMAL(38,4),
   * so Σv² must fit 34 integer digits — |v| ≤ ~1e15 with up to ~1e4
   * rows per arm, tightening with n (√(10³⁴/n) per value). Past the
   * bound Spark (ANSI off) nulls the moment SILENTLY while
   * HUGEINT-backed engines keep exact sums — t/dof degrade to null
   * and engines diverge; values that large are not on a money grid,
   * rescale upstream.
   *
   * Output: (keys…, n_a, n_b, mean_a, mean_b, t, dof).
   *
   * Scale posture: one key-partitioned exchange of CONSTANT-width
   * partial moments (map-side combined); nothing row-sized survives
   * the aggregation.
   */
  def welchT(df: DataFrame, keys: Seq[String], groupCol: String,
             aLabel: String, bLabel: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("decimal(18,2)")
    def arm(l: String) = when(col(groupCol) === l, lit(1)).otherwise(lit(0))
    val m = df
      .filter(col(valueCol).isNotNull &&
        (col(groupCol) === aLabel || col(groupCol) === bLabel))
      .groupBy(keys.map(col): _*)
      .agg(sum(arm(aLabel)).as("n_a"),
        sum(when(col(groupCol) === aLabel, v)).as("__sa"),
        sum(when(col(groupCol) === aLabel, v * v)).as("__ssa"),
        sum(arm(bLabel)).as("n_b"),
        sum(when(col(groupCol) === bLabel, v)).as("__sb"),
        sum(when(col(groupCol) === bLabel, v * v)).as("__ssb"))
    val na = d(col("n_a")); val nb = d(col("n_b"))
    val sa = d(col("__sa")); val sb = d(col("__sb"))
    val ssa = d(col("__ssa")); val ssb = d(col("__ssb"))
    val va = (na * ssa - sa * sa) / (na * (na - lit(1.0)))
    val vb = (nb * ssb - sb * sb) / (nb * (nb - lit(1.0)))
    val sea = va / na
    val seb = vb / nb
    val se2 = sea + seb
    val ok = col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0.0
    m.select(keys.map(col) ++ Seq(
      col("n_a"), col("n_b"),
      when(col("n_a") > 0, sa / na).as("mean_a"),
      when(col("n_b") > 0, sb / nb).as("mean_b"),
      when(ok, (sa / na - sb / nb) / sqrt(se2)).as("t"),
      when(ok, (se2 * se2) /
        ((sea * sea) / (na - lit(1.0)) + (seb * seb) / (nb - lit(1.0))))
        .as("dof")): _*)
  }

  /**
   * Mann-Whitney U (Wilcoxon rank-sum) per group: the nonparametric
   * A/B test — compares `valueCol` between the `aLabel` and `bLabel`
   * rows of `groupCol` by RANKS, so it needs no normality and shrugs
   * off outliers that wreck [[welchT]]. Emits U for both arms and the
   * tie-corrected normal-approximation z (valid for arms ≳ 20; exact
   * small-sample tables belong to the caller).
   *
   * Relation to [[graft.quality.Quality.mannWhitneyU]]: that one is
   * the GLOBAL two-sample form (per-row midranks on one all-to-one
   * sort — exact, simple, ~10^8-row ceiling); this one is the grouped
   * scale path — it never ranks rows, only the (keys, value) GRID, so
   * it holds at any row count and any key fan-out. Same statistic,
   * same tie correction; identical z on identical data. Within this
   * object, [[cliffsDelta]] and [[rankPanel]] build on the same grid
   * kernel and the same closing, so their U (and this z) cannot
   * drift from this operator's.
   *
   * Reproducibility discipline: every rank quantity lives on the
   * integer grid — ranks are computed in DOUBLED units (the average
   * rank of a tie run `[lo, hi]` is `(lo+hi)/2`, so `lo+hi` is the
   * doubled rank, an exact long), rank sums and the tie term
   * `Σ(t³−t)` accumulate as DECIMAL(38,0) (exact, order-independent),
   * and the closing z is a fixed left-to-right IEEE composition any
   * engine replays bit-for-bit:
   * `U_a = R_a − n_a(n_a+1)/2`, `μ = n_a·n_b/2`,
   * `σ² = (n_a·n_b/12)·((n+1) − T/(n·(n−1)))`, `z = (U_a − μ)/σ`.
   * Values are compared on the `valueScale` decimal grid (ties must
   * mean EQUAL, not close — floats that differ in the 15th digit are
   * distinct ranks in any engine). Null values and foreign labels are
   * excluded; null keys group as one key, and `keys = Nil` is one
   * global group. `aLabel` must differ from `bLabel`. Arms with
   * n = 0, or all-tied data (σ² ≤ 0), yield null z.
   *
   * Output: (keys…, n_a, n_b, u_a, u_b, z).
   *
   * Scale posture: one (keys, value)-grid aggregation collapses the
   * data to distinct values (bounded by the value grid, not the row
   * count), one keys-partitioned window ranks the value groups, and
   * the final aggregate rides the window's partitioning — 2 exchanges
   * total, nothing row-sized past the first aggregate.
   */
  def mannWhitneyU(df: DataFrame, keys: Seq[String], groupCol: String,
                   aLabel: String, bLabel: String, valueCol: String,
                   valueScale: Int = 2): DataFrame =
    twoSample("mannWhitneyU", mwuClosing, keepNullKeys = true, df,
      keys, groupCol, aLabel, bLabel, valueCol, valueScale)

  /**
   * Spearman rank correlation per group: Pearson over AVERAGE ranks —
   * the monotonic-association measure, immune to outliers and
   * nonlinearity that distort [[pearsonMatrix]] on raw values.
   *
   * Same integer-grid discipline as [[mannWhitneyU]]: the doubled
   * average rank is `rank_asc + n − rank_desc + 1` (min-rank from
   * both directions — one partition, two sort orders, no per-value
   * second exchange), every moment accumulates as DECIMAL(38,0)
   * (doubling cancels in the correlation ratio EXACTLY because the
   * sums are exact), and the closing formula is the pearson
   * composition over those sums. Rows with null x or y are excluded
   * (listwise). Zero rank variance (a constant column) → null rho.
   * Values tie on their `xScale`/`yScale` decimal grids.
   *
   * Output: (keys…, n, rho).
   *
   * Envelope: Σ(2r)² ≤ 4n³ must fit DECIMAL(38) — n to ~10^11 rows
   * per group.
   *
   * Scale posture: ONE exchange on the group keys serves both rank
   * windows (two sorts, same partitioning) and the closing aggregate.
   */
  def spearman(df: DataFrame, keys: Seq[String], xCol: String, yCol: String,
               xScale: Int = 2, yScale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = col(xCol).cast(s"decimal(18,$xScale)")
    val y = col(yCol).cast(s"decimal(18,$yScale)")
    val wk = Window.partitionBy(keys.map(col): _*)
    def r2(c: Column) =
      rank().over(wk.orderBy(c.asc)).cast("long") + count(lit(1)).over(wk) -
        rank().over(wk.orderBy(c.desc)).cast("long") + 1L
    val ranked = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(keys.map(col) :+ x.as("__x") :+ y.as("__y"): _*)
      .withColumn("__rx", r2(col("__x")))
      .withColumn("__ry", r2(col("__y")))
    val m = Moments.closing()
    Moments.collapse(ranked.groupBy(keys.map(col): _*),
        col("__rx").cast("decimal(19,0)"), col("__ry").cast("decimal(19,0)"),
        _.cast("decimal(38,0)"))
      .select(keys.map(col) ++ Seq(
        col("__n").as("n"),
        when(m.vx > 0 && m.vy > 0, m.corr).as("rho")): _*)
  }

  /**
   * Benjamini-Hochberg FDR control per family: given one p-value per
   * test, emit the BH-adjusted p (`p_adj`) and the keep/reject call at
   * level `alpha` — the multiple-testing guard every metrics pipeline
   * that fans out thousands of A/B comparisons needs (Bonferroni is
   * too conservative at that width; raw p's are a false-discovery
   * machine).
   *
   * `p_adj(k) = min(1, min over j ≥ k of (m·p(j)/j))` over tests
   * ranked by p ascending; `significant = p_adj ≤ alpha` reproduces
   * the classic step-up rule exactly. The rank tie-breaks on `idCol`
   * (must be unique per family — the [[graft.llm.Sampling]] key
   * precondition), so the rank column is engine-reproducible even
   * under tied p's; `m·p/j` is a fixed left-to-right IEEE
   * composition, and the running min is order-independent.
   * Null p's are excluded (no test, no discovery).
   *
   * Output: input keys + (id, p, rank, p_adj, significant).
   *
   * Scale posture: all three windows (count, rank, reverse running
   * min) share ONE family-keyed exchange. With empty `keys` the
   * family is global and the sort runs in a single partition — fine
   * to ~10^7 tests; shard into families past that.
   */
  def benjaminiHochberg(df: DataFrame, keys: Seq[String], idCol: String,
                        pCol: String, alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    val wk = Window.partitionBy(keys.map(col): _*)
    val wAsc = wk.orderBy(col(pCol).asc, col(idCol).asc)
    val wDesc = wk.orderBy(col(pCol).desc, col(idCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(pCol).isNotNull)
      .withColumn("rank", row_number().over(wAsc).cast("long"))
      .withColumn("__m", count(lit(1)).over(wk))
      .withColumn("__raw",
        d(col("__m")) * col(pCol).cast("double") / d(col("rank")))
      .withColumn("p_adj", least(lit(1.0), min(col("__raw")).over(wDesc)))
      .withColumn("significant", col("p_adj") <= alpha)
      .drop("__m", "__raw")
  }

  /**
   * Cohen's kappa per group: chance-corrected agreement between two
   * categorical columns — the eval-pipeline staple (LLM judge vs
   * human label, classifier vs ground truth; raw accuracy flatters
   * any skewed label set, kappa doesn't).
   *
   * `κ = (p_o − p_e)/(1 − p_e)` with observed agreement
   * `p_o = agree/n` and chance agreement
   * `p_e = Σ_c m1_c·m2_c / n²` over the label marginals. All counts
   * and the marginal cross-products are exact integers/decimals; the
   * closing division chain is pinned IEEE
   * (`po = a/n; pe = peNum/(n·n); κ = (po − pe)/(1 − pe)`). Rows with
   * a null label on either side are excluded (no rating, no
   * agreement). Degenerate `p_e = 1` (both raters constant and equal)
   * → null kappa.
   *
   * Output: (keys…, n, po, pe, kappa).
   *
   * Scale posture: one (keys, label, label) contingency aggregation
   * (map-side combined — the shuffled relation is label-cardinality²
   * per key, not rows); totals and both marginals reduce from it; the
   * marginal join keys on (keys, category) — tiny on both sides.
   */
  def cohenKappa(df: DataFrame, keys: Seq[String], r1Col: String,
                 r2Col: String): DataFrame = {
    val base = df.filter(col(r1Col).isNotNull && col(r2Col).isNotNull)
      .select(keys.map(col) :+ col(r1Col).cast("string").as("__r1") :+
        col(r2Col).cast("string").as("__r2"): _*)
    // checkpoint the contingency relation (label²·keys rows — tiny):
    // totals and both marginals re-read it, not the corpus
    val cont = base
      .groupBy(keys.map(col) :+ col("__r1") :+ col("__r2"): _*)
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val tot = cont.groupBy(keys.map(col): _*)
      .agg(sum(col("__c")).as("n"),
        sum(when(col("__r1") === col("__r2"), col("__c")).otherwise(0L))
          .as("__agree"))
    val m1 = cont.groupBy(keys.map(col) :+ col("__r1").as("__cat"): _*)
      .agg(sum(col("__c")).as("__m1"))
    val m2 = cont.groupBy(keys.map(col) :+ col("__r2").as("__cat"): _*)
      .agg(sum(col("__c")).as("__m2"))
    val peNum = m1.join(m2, keys :+ "__cat")
      .groupBy(keys.map(col): _*)
      .agg(sum((col("__m1").cast("decimal(19,0)") *
        col("__m2").cast("decimal(19,0)")).cast("decimal(38,0)"))
        .as("__pe"))
    val j =
      if (keys.isEmpty) tot.crossJoin(peNum)
      else tot.join(peNum, keys, "inner")
    val n = d(col("n"))
    val po = d(col("__agree")) / n
    val pe = d(col("__pe")) / (n * n)
    j.select(keys.map(col) ++ Seq(
      col("n"), po.as("po"), pe.as("pe"),
      when(pe < 1.0, (po - pe) / (lit(1.0) - pe)).as("kappa")): _*)
  }

  /**
   * Gini coefficient per group over a non-negative money column — the
   * concentration score ("does 1% of the catalog carry 80% of the
   * revenue?"; for corpus curation, "is one domain dominating this
   * source's token mass?"). 0 = perfectly even, →1 = fully
   * concentrated.
   *
   * Exact rank identity on the value GRID: for ascending values with
   * 1-based ranks, `G = (2Σᵢ i·xᵢ − (n+1)·Σx)/(n·Σx)`, and a value
   * run of count c ending at cumulative position `cum` contributes
   * `x·c·(2·cum − c + 1)` to `2Σ i·x` EXACTLY (ties are
   * order-invariant because tied values are equal). Everything
   * accumulates in integer cents / DECIMAL(38,0); the closing is
   * three pinned double ops, and the scale-0 decimal→double cast is
   * correctly rounded in every engine at any magnitude (no ÷10ˢ —
   * see the 2⁵³ note on [[graft.llm.TextAnalysis.zipfSlope]]).
   * Null and negative values are excluded (Gini over mixed-sign data
   * is not a concentration measure). All-zero mass → null.
   *
   * Output: (keys…, n, gini).
   *
   * Scale posture: (keys, cents) grid aggregation, ONE keys exchange
   * for the cumulative window + closing aggregate — the
   * [[mannWhitneyU]] shape.
   */
  def gini(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = round(col(valueCol).cast("double") * 100).cast("long")
    val grid = df.filter(col(valueCol).isNotNull && cents >= 0)
      .groupBy(keys.map(col) :+ cents.as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val wk = Window.partitionBy(keys.map(col): _*).orderBy(col("__v"))
    val ranked = grid
      .withColumn("__cum", sum(col("__c")).over(wk))
      .withColumn("__rsum",
        (col("__c") * (lit(2L) * col("__cum") - col("__c") + 1L))
          .cast("decimal(19,0)"))
    val m = ranked.groupBy(keys.map(col): _*)
      .agg(sum(col("__c")).as("n"),
        sum((col("__v").cast("decimal(19,0)") * col("__rsum"))
          .cast("decimal(38,0)")).as("__s2"),
        sum((col("__v").cast("decimal(19,0)") *
          col("__c").cast("decimal(19,0)")).cast("decimal(38,0)"))
          .as("__sx"))
    val n = d(col("n"))
    val s2 = d(col("__s2")); val sx = d(col("__sx"))
    m.select(keys.map(col) ++ Seq(
      col("n"),
      when(col("__sx") > 0, (s2 - (n + lit(1.0)) * sx) / (n * sx))
        .as("gini")): _*)
  }

  /**
   * Mutual information between two categorical columns per group,
   * with marginal entropies and the normalized MI — the association
   * strength behind feature selection and redundancy checks
   * ([[cohenKappa]] asks "do they AGREE", MI asks "do they carry the
   * same INFORMATION" — a perfectly anti-correlated pair has kappa
   * −1 and maximal MI).
   *
   * `MI = Σ_ab p_ab·ln(p_ab·n²/(m_a·m_b))`, `H = −Σ p·ln p`,
   * `NMI = MI/√(H_a·H_b)` (null when either entropy is 0 — a
   * constant column carries no information to normalize by).
   *
   * Reproducibility: exact contingency/marginal counts; each cell
   * term is ONE pinned composition (`round(p·ln(ratio), 9)`, libm
   * ln, the probability and ratio built by the same division order
   * everywhere) summed in DECIMAL — the [[graft.llm.TextAnalysis
   * .jensenShannonBySlice]] discipline.
   *
   * Output: (keys…, n, mi, h_a, h_b, nmi).
   *
   * Scale posture: the contingency relation (labels² per key) is
   * checkpointed; cell terms join two broadcast marginal relations;
   * everything downstream is label-cardinality-sized.
   */
  def mutualInfo(df: DataFrame, keys: Seq[String], aCol: String,
                 bCol: String): DataFrame = {
    val base = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(keys.map(col) :+ col(aCol).cast("string").as("__a") :+
        col(bCol).cast("string").as("__b"): _*)
    val cont = base
      .groupBy(keys.map(col) :+ col("__a") :+ col("__b"): _*)
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val tot = cont.groupBy(keys.map(col): _*).agg(sum(col("__c")).as("n"))
    val m1 = cont.groupBy(keys.map(col) :+ col("__a"): _*)
      .agg(sum(col("__c")).as("__m1"))
    val m2 = cont.groupBy(keys.map(col) :+ col("__b"): _*)
      .agg(sum(col("__c")).as("__m2"))
    def ent(mc: DataFrame, m: String, out: String): DataFrame = {
      val withN =
        if (keys.isEmpty) mc.crossJoin(broadcast(tot))
        else mc.join(broadcast(tot), keys)
      val p = col(m).cast("double") / col("n").cast("double")
      withN
        .groupBy(keys.map(col): _*)
        .agg(sum((-round(p * graft.functions.MathFunctions.libmLog(p), 9))
          .cast("decimal(12,9)")).as("__e"))
        .select(keys.map(col) :+ col("__e").cast("double").as(out): _*)
    }
    def jd(l: DataFrame, r: DataFrame, using: Seq[String]): DataFrame =
      if (using.isEmpty) l.crossJoin(broadcast(r))
      else l.join(broadcast(r), using)
    val cells = jd(jd(jd(cont, m1, keys :+ "__a"), m2, keys :+ "__b"),
      tot, keys)
    val nD = col("n").cast("double")
    val p = col("__c").cast("double") / nD
    val ratio = (col("__c").cast("double") * nD) /
      (col("__m1").cast("double") * col("__m2").cast("double"))
    val term = round(p * graft.functions.MathFunctions.libmLog(ratio), 9)
    val mi = cells
      .groupBy(keys.map(col): _*)
      .agg(min(col("n")).as("n"),
        sum(term.cast("decimal(12,9)")).as("__mi"))
    val ha = ent(m1, "__m1", "h_a")
    val hb = ent(m2, "__m2", "h_b")
    def j(l: DataFrame, r: DataFrame): DataFrame =
      if (keys.isEmpty) l.crossJoin(r) else l.join(r, keys)
    val res = j(j(mi, ha), hb)
    val miD = col("__mi").cast("double")
    res.select(keys.map(col) ++ Seq(
      col("n"), miD.as("mi"), col("h_a"), col("h_b"),
      when(col("h_a") > 0 && col("h_b") > 0,
        miD / (sqrt(col("h_a")) * sqrt(col("h_b")))).as("nmi")): _*)
  }

  /**
   * Theil-Sen robust slope per group, STRIDE-SAMPLED: the median of
   * pairwise slopes over a deterministic O(n·|strides|) pair set —
   * rows rank by (x, `idCol`) and each row pairs with the rows
   * `strides` ranks ahead. The full estimator's n² pairs are not a
   * 100 TB plan; the stride family (near + far offsets) keeps the
   * median's breakdown robustness against outliers at linear cost,
   * and the pair set is content-deterministic (same data → same
   * pairs → same slope, any engine).
   *
   * The reported slope is the DISCRETE median of the sampled slopes
   * (the value at ascending rank ⌈n/2⌉ — the [[graft.agg.GroupBy
   * .percentilesDisc]] rule, value-identical under ties). Pairs with
   * equal x are skipped (no slope). `idCol` must be unique per group
   * (the rank tie-break contract).
   *
   * Output: (keys…, n_pairs, slope); groups with no valid pair emit
   * no row.
   *
   * Scale posture: ONE key exchange for the rank window; the pair
   * builder is an EQUI join on (keys, rank+stride) over the
   * checkpointed ranked relation; the median is a second window on
   * the (much smaller) slope relation.
   */
  def theilSen(df: DataFrame, keys: Seq[String], xCol: String, yCol: String,
               idCol: String,
               strides: Seq[Int] = Seq(1, 2, 3, 5, 8, 13, 21),
               xScale: Int = 2, yScale: Int = 2): DataFrame = {
    require(strides.nonEmpty && strides.forall(_ >= 1),
      "strides must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val x = col(xCol).cast(s"decimal(18,$xScale)")
    val y = col(yCol).cast(s"decimal(18,$yScale)")
    val wk = Window.partitionBy(keys.map(col): _*)
    val ranked = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(idCol).isNotNull)
      .select(keys.map(col) :+ x.as("__x") :+ y.as("__y") :+
        col(idCol).as("__id"): _*)
      .withColumn("__rk", row_number().over(
        wk.orderBy(col("__x"), col("__id"))).cast("long"))
      .localCheckpoint(false)
    val left = ranked
      .withColumn("__s", explode(array(strides.map(lit): _*)))
      .withColumn("__rk2", col("__rk") + col("__s"))
      .select(keys.map(col) :+ col("__x") :+ col("__y") :+ col("__rk2"): _*)
    val right = ranked.select(keys.map(col) :+ col("__x").as("__x2") :+
      col("__y").as("__y2") :+ col("__rk").as("__rk2"): _*)
    val slopes = left.join(right, keys :+ "__rk2")
      .filter(col("__x2") =!= col("__x"))
      .withColumn("__slope",
        (col("__y2") - col("__y")).cast("double") /
          (col("__x2") - col("__x")).cast("double"))
    val wS = wk.orderBy(col("__slope"))
    slopes
      .withColumn("__n", count(lit(1)).over(wk))
      .withColumn("__r", row_number().over(wS).cast("long"))
      .filter(col("__r") * 2 === col("__n") + 1 ||
        (col("__n") % 2 === 0 && col("__r") * 2 === col("__n")))
      .select(keys.map(col) :+ col("__n").as("n_pairs") :+
        col("__slope").as("slope"): _*)
  }

  /**
   * Two-proportion z-test per group: compare conversion/defect RATES
   * between the `aLabel` and `bLabel` arms of `groupCol`, where
   * `hitCol` is the per-row success flag — the categorical sibling of
   * [[welchT]] (means) and [[mannWhitneyU]] (ranks), and the
   * significance layer over `Quality.conversionRates`' Wilson
   * intervals.
   *
   * Pooled-variance form: `p̂ = (h_a + h_b)/(n_a + n_b)`,
   * `z = (p_a − p_b) / sqrt(p̂(1−p̂)·(1/n_a + 1/n_b))` — exact integer
   * counts, one pinned IEEE closing chain. Degenerate pools (p̂ = 0
   * or 1 — no variance) and empty arms yield null z.
   *
   * Output: (keys…, n_a, n_b, p_a, p_b, z).
   *
   * Scale posture: ONE map-side-combined aggregation; closing on
   * |groups| rows.
   */
  def twoProportionZ(df: DataFrame, keys: Seq[String], groupCol: String,
                     aLabel: String, bLabel: String, hitCol: String)
  : DataFrame = {
    val hit = col(hitCol).cast("boolean")
    val m = df
      .filter(hit.isNotNull &&
        (col(groupCol) === aLabel || col(groupCol) === bLabel))
      .groupBy(keys.map(col): _*)
      .agg(sum(when(col(groupCol) === aLabel, 1L).otherwise(0L)).as("n_a"),
        sum(when(col(groupCol) === aLabel && hit, 1L).otherwise(0L))
          .as("__ha"),
        sum(when(col(groupCol) === bLabel, 1L).otherwise(0L)).as("n_b"),
        sum(when(col(groupCol) === bLabel && hit, 1L).otherwise(0L))
          .as("__hb"))
    val na = d(col("n_a")); val nb = d(col("n_b"))
    val pa = d(col("__ha")) / na
    val pb = d(col("__hb")) / nb
    val pp = (d(col("__ha")) + d(col("__hb"))) / (na + nb)
    val se2 = pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb)
    val ok = col("n_a") >= 1 && col("n_b") >= 1 && se2 > 0.0
    m.select(keys.map(col) ++ Seq(
      col("n_a"), col("n_b"),
      when(col("n_a") >= 1, pa).as("p_a"),
      when(col("n_b") >= 1, pb).as("p_b"),
      when(ok, (pa - pb) / sqrt(se2)).as("z")): _*)
  }

  /**
   * Two-sample Kolmogorov–Smirnov statistic per group: the largest
   * vertical gap between the two arms' empirical CDFs — the
   * distribution-shape sibling of [[mannWhitneyU]] (which sees only
   * location). The drift alarm that fires when an experiment arm (or
   * a new data source) changes the SHAPE of a metric, not just its
   * mean.
   *
   * Exact integer formulation: on the pooled per-value grid,
   * `D = max_v |cumA(v)·n_b − cumB(v)·n_a| / (n_a·n_b)` — the
   * numerator is an exact long (its max is engine-independent), and
   * the single closing division is one pinned IEEE op. No doubles
   * anywhere in the scan. `d_num`/`d_den` are also emitted raw so a
   * caller (or an oracle) can verify exactly. Empty arms → null d.
   *
   * Overflow envelope: `cum·n ≤ n_a·n_b ≤ ~9·10^18` — arms to ~3e9
   * rows per group; past that, pre-aggregate or widen to decimal.
   *
   * Output: (keys…, n_a, n_b, d_num, d_den, d).
   *
   * Scale posture: one map-side-combined aggregate collapses rows to
   * the (group, value) grid; ONE group-key exchange then carries the
   * CDF window, the arm totals window, and the closing max — no
   * second shuffle, nothing collected.
   */
  def ksTest(df: DataFrame, keys: Seq[String], groupCol: String,
             aLabel: String, bLabel: String, valueCol: String,
             valueScale: Int = 2): DataFrame =
    twoSample("ksTest", ksClosing, keepNullKeys = true, df,
      keys, groupCol, aLabel, bLabel, valueCol, valueScale)

  /**
   * Kendall rank correlation (tau-b) per group — concordant-vs-
   * discordant pair agreement with the standard tie corrections: the
   * third rank statistic next to [[spearman]] (average-rank Pearson)
   * and [[mannWhitneyU]] (rank sums), preferred when the data has
   * many ties or when the "probability a random pair agrees"
   * interpretation matters.
   *
   * Exact integer core: with `n0 = n(n−1)/2`, `n1 = Σ tᵢ(tᵢ−1)/2`
   * over x-tie runs, `n2` likewise over y, `n3` over (x,y)-tie runs,
   * and `D` = discordant pairs, `S = n0 − n1 − n2 + n3 − 2D` and
   * `tau_b = S / sqrt((n0−n1)·(n0−n2))`. All counts are exact longs;
   * the closing is two exact double products (< 2^53 for groups to
   * ~10^4.8 rows — see envelope), one sqrt, one division — pinned
   * IEEE, engine-identical. Degenerate variance (all x or all y
   * tied) → null tau.
   *
   * `D` is counted in O(n log n) per group: sort pairs by (x asc,
   * y asc), then count strict inversions of the y sequence with a
   * bottom-up mergesort — pairs tied on x sort adjacent in y and
   * contribute no inversion; pairs tied on y are not strict
   * inversions. (The textbook O(n²) sweep is the ORACLE, not the
   * engine.)
   *
   * Output: (keys…, n, n0, n1, n2, n3, discordant, s, tau_b).
   *
   * Envelope: the closing products (n0−n1)(n0−n2) must stay < 2^53
   * for an exact double — groups to ~1.3e5 rows. Past that, the
   * exact-integer columns are still correct (they fit longs to
   * n ~ 4e9); recompose tau in decimal upstream.
   *
   * Scale posture: one group-key exchange; each group is sorted and
   * counted IN MEMORY on its executor (`flatMapGroups`), so per-group
   * cardinality is the documented bound (~10^7 rows comfortably) —
   * groups are analysis cells (cohort × month), numerous and small.
   * Nothing is collected to the driver.
   */
  def kendallTau(df: DataFrame, keys: Seq[String], xCol: String,
                 yCol: String, xScale: Int = 2, yScale: Int = 2)
  : DataFrame = {
    val counts = udf { pairs: Seq[org.apache.spark.sql.Row] =>
      val n = pairs.length
      val xs = new Array[Long](n); val ys = new Array[Long](n)
      val idx = (0 until n).sortBy(i => (pairs(i).getLong(0),
        pairs(i).getLong(1)))
      var i = 0
      while (i < n) {
        xs(i) = pairs(idx(i)).getLong(0); ys(i) = pairs(idx(i)).getLong(1)
        i += 1
      }
      def tieSum(sorted: Array[Long]): Long = {
        var s = 0L; var run = 1L; var j = 1
        while (j <= sorted.length) {
          if (j < sorted.length && sorted(j) == sorted(j - 1)) run += 1
          else { s += run * (run - 1) / 2; run = 1L }
          j += 1
        }
        s
      }
      val nL = n.toLong
      val n0 = nL * (nL - 1) / 2
      val n1 = tieSum(xs) // xs is (x,y)-sorted, so x-sorted
      val n3 = { // (x,y)-tie runs are consecutive in the (x,y) sort
        var s = 0L; var run = 1L; var j = 1
        while (j <= n) {
          if (j < n && xs(j) == xs(j - 1) && ys(j) == ys(j - 1)) run += 1
          else { s += run * (run - 1) / 2; run = 1L }
          j += 1
        }
        s
      }
      // strict inversions of ys (pairs i<j with ys(i) > ys(j)) via
      // bottom-up mergesort; x-ties sort y-ascending so they
      // contribute 0, and y-ties are not strict inversions
      var inv = 0L
      var src = ys.clone(); var dst = new Array[Long](n)
      var width = 1
      while (width < n) {
        var lo = 0
        while (lo < n) {
          val mid = math.min(lo + width, n)
          val hi = math.min(lo + 2 * width, n)
          var a = lo; var b = mid; var o = lo
          while (a < mid && b < hi) {
            if (src(a) <= src(b)) { dst(o) = src(a); a += 1 }
            else { dst(o) = src(b); inv += mid - a; b += 1 }
            o += 1
          }
          while (a < mid) { dst(o) = src(a); a += 1; o += 1 }
          while (b < hi) { dst(o) = src(b); b += 1; o += 1 }
          lo += 2 * width
        }
        val t = src; src = dst; dst = t
        width *= 2
      }
      val n2 = tieSum(src) // src is now y-sorted
      (nL, n0, n1, n2, n3, inv, n0 - n1 - n2 + n3 - 2 * inv)
    }
    val counted = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(collect_list(struct(unscaled(col(xCol), xScale),
        unscaled(col(yCol), yScale))).as("__pairs"))
      .withColumn("__c", counts(col("__pairs")))
    val vx = d(col("__c._2") - col("__c._3"))
    val vy = d(col("__c._2") - col("__c._4"))
    counted.select(keys.map(col) ++ Seq(
      col("__c._1").as("n"), col("__c._2").as("n0"),
      col("__c._3").as("n1"), col("__c._4").as("n2"),
      col("__c._5").as("n3"), col("__c._6").as("discordant"),
      col("__c._7").as("s"),
      when(vx > 0.0 && vy > 0.0, d(col("__c._7")) / sqrt(vx * vy))
        .as("tau_b")): _*)
  }

  /**
   * Calibration curve (reliability diagram) per group: bucket
   * predictions by predicted probability, compare each bucket's mean
   * prediction with its observed positive rate — the eval primitive
   * for quality classifiers and reward models ("the 0.8 bucket should
   * convert 80% of the time").
   *
   * Engine-exact arithmetic: probabilities snap to the 10⁻⁹ decimal
   * grid (the established log-discipline grid) so Σp is an exact
   * decimal; bin assignment is `min(⌊p·bins⌋, bins−1)` on doubles
   * (same product, same floor in any IEEE engine); the closing
   * mean/rate/gap are pinned divisions. Rows with null or out-of-
   * range p (outside [0,1]) are excluded.
   *
   * Output: (keys…, bin, n, mean_p, frac_pos, gap) with
   * `gap = frac_pos − mean_p` (positive = under-confident).
   *
   * Scale posture: ONE (keys, bin) map-side-combined aggregation.
   */
  def calibration(df: DataFrame, keys: Seq[String], probCol: String,
                  labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val p = col(probCol).cast("double")
    val y = col(labelCol).cast("boolean")
    val base = df.filter(p.isNotNull && y.isNotNull &&
      p >= 0.0 && p <= 1.0)
    val bin = least(floor(p * bins).cast("long"), lit((bins - 1).toLong))
    val p9 = round(p, 9).cast("decimal(18,9)")
    val m = base
      .groupBy(keys.map(col) :+ bin.as("bin"): _*)
      .agg(count(lit(1)).as("n"),
        sum(p9).as("__sp"),
        sum(when(y, 1L).otherwise(0L)).as("__pos"))
    val nd = col("n").cast("double")
    val meanP = col("__sp").cast("double") / nd
    val fracPos = col("__pos").cast("double") / nd
    m.select(keys.map(col) ++ Seq(col("bin"), col("n"),
      meanP.as("mean_p"), fracPos.as("frac_pos"),
      (fracPos - meanP).as("gap")): _*)
  }

  /**
   * Isotonic (PAV) calibration per group — [[calibration]]'s MONOTONE
   * sibling and the standard recalibration map for classifier scores:
   * bucket predictions into `bins` score bins (the [[calibration]]
   * binning verbatim), then fit the non-decreasing step function that
   * minimizes squared error by pool-adjacent-violators — a bin whose
   * positive rate DROPS below a lower bin's pools with it until the
   * sequence is monotone. Binned first because raw-row PAV is
   * inherently sequential over the whole key (dead at corpus scale);
   * the binned fit is the standard large-scale form and the bin count
   * is the resolution dial.
   *
   * Engine-exact: pooling decisions are EXACT integer rational
   * comparisons (`s_prev·w_cur > s_cur·w_prev`, BigInt past 2³¹ so
   * the cross-product cannot overflow at any key size); the fitted
   * value is ONE double division of the pooled integer counts. An
   * ANSI engine replays the fit with the max-min identity
   * `g(i) = max_{j≤i} min_{k≥i} avg(j..k)` — the classic closed form
   * of the PAV solution — whose selected value is the same pooled
   * division (distinct bin-count rationals differ by ≥ 1/maxN², far
   * above double ulp, so double comparisons decide identically).
   *
   * Output: (keys…, bin, n, n_pos, fitted) — one row per NON-EMPTY
   * input bin; `fitted` is the calibrated probability for scores
   * landing in that bin, non-decreasing in `bin` within each key.
   *
   * Scale posture: ONE (keys, bin) map-side-combined aggregation
   * (grid-sized), then a per-key O(bins) fold over the collected
   * grid row — never over raw rows.
   */
  def isotonicCalibration(df: DataFrame, keys: Seq[String],
                          probCol: String, labelCol: String,
                          bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    require(keys.nonEmpty, "isotonicCalibration needs key columns")
    val p = col(probCol).cast("double")
    val y = col(labelCol).cast("boolean")
    val base = df.filter(p.isNotNull && y.isNotNull &&
      p >= 0.0 && p <= 1.0)
    val bin = least(floor(p * bins).cast("long"), lit((bins - 1).toLong))
    val cells = base
      .groupBy(keys.map(col) :+ bin.as("bin"): _*)
      .agg(count(lit(1)).as("__w"),
        sum(when(y, 1L).otherwise(0L)).as("__s"))
    val pav = udf((cells: Seq[org.apache.spark.sql.Row]) => {
      // stack of pooled blocks: (w, s, nCells); input arrives bin-sorted
      val st = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      def violates(sPrev: Long, wPrev: Long, sCur: Long, wCur: Long) =
        if (wPrev <= Int.MaxValue && wCur <= Int.MaxValue)
          sPrev * wCur > sCur * wPrev
        else BigInt(sPrev) * wCur > BigInt(sCur) * wPrev
      cells.foreach { c =>
        var (w, s, n) = (c.getLong(1), c.getLong(2), 1)
        while (st.nonEmpty &&
          violates(st.last._2, st.last._1, s, w)) {
          val t = st.remove(st.length - 1)
          w += t._1; s += t._2; n += t._3
        }
        st += ((w, s, n))
      }
      // expand: blocks pool ADJACENT cells, so membership is by
      // position — walk the sorted cells once, emitting each with
      // its block's pooled division
      val out = Seq.newBuilder[(Long, Long, Long, Double)]
      var i = 0
      st.foreach { case (w, s, n) =>
        val fitted = s.toDouble / w.toDouble
        (0 until n).foreach { _ =>
          val c = cells(i)
          out += ((c.getLong(0), c.getLong(1), c.getLong(2), fitted))
          i += 1
        }
      }
      out.result()
    })
    val folded = cells
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("bin"), col("__w"),
        col("__s")))).as("__cells"))
      .withColumn("__fit", explode(pav(col("__cells"))))
    folded.select(keys.map(col) ++ Seq(
      col("__fit._1").as("bin"), col("__fit._2").as("n"),
      col("__fit._3").as("n_pos"), col("__fit._4").as("fitted")): _*)
  }

  /**
   * Cohen's d / Hedges' g effect size per key — the SIZE companion
   * to [[welchT]]'s significance (a p-value without an effect size
   * is how dashboards lie; report both): standardized mean
   * difference `d = (x̄_a − x̄_b)/s_pooled` with the pooled
   * (n−1)-weighted standard deviation, and the small-sample-debiased
   * `g = d·(1 − 3/(4N − 9))` (Hedges' correction).
   *
   * Engine-exact: cent-grid values, exact integer arm moments
   * ([[welchT]]'s decimal sums), pooled variance from the scatter
   * identity `SS − S²/n` per arm, and one pinned closing chain —
   * `√` of one correctly-rounded quotient, the correction factor
   * computed IN-expression. Arms with < 2 total spare df or zero
   * pooled scatter emit null.
   *
   * Output: (keys…, n_a, n_b, mean_a, mean_b, cohens_d, hedges_g).
   *
   * Scale posture: ONE map-side-combined key aggregation.
   */
  def cohensD(df: DataFrame, keys: Seq[String], groupCol: String,
              aLabel: String, bLabel: String,
              valueCol: String): DataFrame = {
    require(keys.nonEmpty, "cohensD needs key columns")
    val v = col(valueCol).cast("decimal(18,2)")
    def arm(l: String) = when(col(groupCol) === l, lit(1L)).otherwise(lit(0L))
    val m = df
      .filter(col(valueCol).isNotNull &&
        (col(groupCol) === aLabel || col(groupCol) === bLabel) &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(sum(arm(aLabel)).as("n_a"),
        sum(when(col(groupCol) === aLabel, v)).as("__sa"),
        sum(when(col(groupCol) === aLabel, (v * v).cast("decimal(38,4)")))
          .as("__ssa"),
        sum(arm(bLabel)).as("n_b"),
        sum(when(col(groupCol) === bLabel, v)).as("__sb"),
        sum(when(col(groupCol) === bLabel, (v * v).cast("decimal(38,4)")))
          .as("__ssb"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val sa = col("__sa").cast("double"); val sb = col("__sb").cast("double")
    val ssa = col("__ssa").cast("double"); val ssb = col("__ssb").cast("double")
    val meanA = sa / na; val meanB = sb / nb
    val pooledVar = ((ssa - sa * sa / na) + (ssb - sb * sb / nb)) /
      (na + nb - lit(2.0))
    val d = (meanA - meanB) / sqrt(pooledVar)
    val nTot = na + nb
    val g = d * (lit(1.0) - lit(3.0) / (lit(4.0) * nTot - lit(9.0)))
    m.select(keys.map(col) ++ Seq(col("n_a"), col("n_b"),
      when(col("n_a") > 0L, meanA).as("mean_a"),
      when(col("n_b") > 0L, meanB).as("mean_b"),
      when(col("n_a") + col("n_b") >= 3L && col("n_a") > 0L &&
        col("n_b") > 0L && pooledVar > 0.0, d).as("cohens_d"),
      when(col("n_a") + col("n_b") >= 3L && col("n_a") > 0L &&
        col("n_b") > 0L && pooledVar > 0.0, g).as("hedges_g")): _*)
  }

  /**
   * McNemar's test per key — the PAIRED sibling of
   * [[twoProportionZ]]: when the SAME subjects are observed under two
   * conditions (before/after, model A/model B on one eval set), the
   * unpaired test wastes the pairing; McNemar looks only at the
   * DISCORDANT pairs `b = (A✓, B✗)`, `c = (A✗, B✓)`:
   * `χ² = (b−c)²/(b+c)` (1 df), plus the Edwards continuity-corrected
   * `(|b−c|−1)²/(b+c)` variant.
   *
   * Pinned semantics: a subject's outcome under a condition is the
   * MAX over its rows (any success counts); subjects observed under
   * BOTH conditions only. Cells are exact integers; both closings are
   * single pinned chains. Keys with no discordant pairs (b+c = 0)
   * emit null statistics.
   *
   * Output: (keys…, n_pairs, b, c, chi2, chi2_cc).
   *
   * Scale posture: one (keys, subject) map-side-combined collapse,
   * then one key collapse. Nothing row-sized past the first.
   */
  def mcnemar(df: DataFrame, keys: Seq[String], subjectCol: String,
              condCol: String, aLabel: String, bLabel: String,
              outcomeCol: String): DataFrame = {
    require(keys.nonEmpty, "mcnemar needs key columns")
    val y = col(outcomeCol).cast("boolean")
    val pairs = df
      .filter(y.isNotNull && col(subjectCol).isNotNull &&
        (col(condCol) === aLabel || col(condCol) === bLabel) &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ col(subjectCol): _*)
      .agg(max(when(col(condCol) === aLabel, y)).as("__ya"),
        max(when(col(condCol) === bLabel, y)).as("__yb"))
      .filter(col("__ya").isNotNull && col("__yb").isNotNull)
    val agg = pairs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__ya") && !col("__yb"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("__ya") && col("__yb"), 1L).otherwise(0L)).as("c"))
    val bD = col("b").cast("double"); val cD = col("c").cast("double")
    agg.select(keys.map(col) ++ Seq(col("n_pairs"), col("b"), col("c"),
      when(col("b") + col("c") > 0L,
        (bD - cD) * (bD - cD) / (bD + cD)).as("chi2"),
      when(col("b") + col("c") > 0L,
        (abs(bD - cD) - lit(1.0)) * (abs(bD - cD) - lit(1.0)) /
          (bD + cD)).as("chi2_cc")): _*)
  }

  /**
   * Mood's median test per key: does each group share the key's
   * GRAND median? — the blunt, outlier-immune k-group location test
   * ([[kruskalWallis]] is more powerful; Mood's survives arbitrary
   * tail corruption and is what you run on dirty data): count each
   * group's values above vs not-above the key-wide discrete median
   * and chi-square the 2×k table.
   *
   * Engine-exact: cent grid, the key-wide discrete lower median
   * ([[brownForsythe]]'s rank rule on ONE key window), exact integer
   * cells; expected counts `n_g·A/N` are pinned doubles and the χ²
   * accumulates over the group grid in a SEQUENTIAL group-order fold
   * (≡ list_reduce). Keys where every value sits on one side
   * (A = 0 or B = 0) or with < 2 groups emit null.
   *
   * Output: (keys…, k_groups, n, n_above, chi2) — χ² ≈ χ²(k−1)
   * under the null.
   *
   * Scale posture: one key exchange (median windows), one map-side
   * (keys, group) collapse, grid fold.
   */
  def moodsMedianTest(df: DataFrame, keys: Seq[String], groupCol: String,
                      valueCol: String, valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "moodsMedianTest needs key columns")
    import org.apache.spark.sql.expressions.Window
    val vc = unscaled(col(valueCol), valueScale)
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col("__vc"))
    val wAll = Window.partitionBy(keys.map(col): _*)
    val cells = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__vc", vc)
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__cnt", count(lit(1)).over(wAll))
      .withColumn("__med", max(when(col("__rn") ===
        ((col("__cnt") + 1L) / lit(2L)).cast("long"), col("__vc")))
        .over(wAll))
      .groupBy(keys.map(col) :+ col(groupCol): _*)
      .agg(sum(when(col("__vc") > col("__med"), 1L).otherwise(0L))
          .as("__a"),
        sum(when(col("__vc") > col("__med"), 0L).otherwise(1L))
          .as("__b"))
    // state [chi2, A, B, N, K] — two passes would need the totals
    // first, so fold cells TWICE? No: totals are exact integer sums,
    // computed in the same grid aggregate below; the fold then walks
    // the collected cells against the attached totals.
    val grid = cells.groupBy(keys.map(col): _*)
      .agg(sum(col("__a")).as("__A"), sum(col("__b")).as("__B"),
        count(lit(1)).as("k_groups"),
        sort_array(collect_list(struct(col(groupCol).as("__g"),
          col("__a").cast("double").as("__ad"),
          col("__b").cast("double").as("__bd")))).as("__cells"))
    val aT = col("__A").cast("double"); val bT = col("__B").cast("double")
    val nT = aT + bT
    val chi = aggregate(col("__cells"), lit(0.0), (acc, p) => {
      val ng = p.getField("__ad") + p.getField("__bd")
      val ea = ng * aT / nT
      val eb = ng * bT / nT
      acc + (p.getField("__ad") - ea) * (p.getField("__ad") - ea) / ea +
        (p.getField("__bd") - eb) * (p.getField("__bd") - eb) / eb
    })
    grid.select(keys.map(col) ++ Seq(col("k_groups"),
      (col("__A") + col("__B")).as("n"), col("__A").as("n_above"),
      when(col("k_groups") >= 2L && col("__A") > 0L && col("__B") > 0L,
        chi).as("chi2")): _*)
  }

  /**
   * One-way ANOVA F per key — the classic k-group mean comparison
   * completing the trio: THIS tests locations under equal-variance
   * normality, [[kruskalWallis]] tests locations on ranks, and
   * [[brownForsythe]] tests the equal-variance assumption itself.
   * `F = [Σ n_g(x̄_g−x̄)²/(k−1)] / [Σ(x−x̄_g)²/(N−k)]`, plus the η²
   * effect size (between-scatter share — significance without size
   * is how dashboards lie).
   *
   * Engine-exact: values snap to the cent grid; per-group moments
   * (n, Σx, Σx²) are exact integers, each cast to double once; the
   * cross-group collapse folds SEQUENTIALLY in group order
   * (≡ list_reduce, the [[brownForsythe]] state) and F/η² close in
   * one pinned chain via the scatter identities
   * `between = Σ S_g²/n_g − T²/N`, `within = ΣSS − Σ S_g²/n_g`.
   * Keys with < 2 groups, N ≤ k, or zero within-scatter emit null F.
   *
   * Output: (keys…, k_groups, n, f_stat, eta_sq).
   *
   * Scale posture: ONE (keys, group) map-side-combined collapse; the
   * fold runs on the GROUP grid.
   */
  def anovaF(df: DataFrame, keys: Seq[String], groupCol: String,
             valueCol: String, valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "anovaF needs key columns")
    val vc = unscaled(col(valueCol), valueScale)
    val cells = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__vc", vc)
      .groupBy(keys.map(col) :+ col(groupCol): _*)
      .agg(count(lit(1)).as("__ng"), sum(col("__vc")).as("__s"),
        sum((col("__vc") * col("__vc")).cast("decimal(38,0)"))
          .as("__ss"))
    // state [A = Σ S²/n, B = Σ SS, T, N, K] in group order
    val fold = aggregate(
      sort_array(collect_list(struct(col(groupCol).as("__g"),
        col("__ng").cast("double").as("__nd"),
        col("__s").cast("double").as("__sd"),
        col("__ss").cast("double").as("__qd")))),
      array(lit(0.0), lit(0.0), lit(0.0), lit(0.0), lit(0.0)),
      (acc, p) => array(
        element_at(acc, 1) +
          p.getField("__sd") * p.getField("__sd") / p.getField("__nd"),
        element_at(acc, 2) + p.getField("__qd"),
        element_at(acc, 3) + p.getField("__sd"),
        element_at(acc, 4) + p.getField("__nd"),
        element_at(acc, 5) + lit(1.0)))
    val m = (i: Int) => element_at(col("__m"), i)
    val between = m(1) - m(3) * m(3) / m(4)
    val within = m(2) - m(1)
    val f = (between / (m(5) - lit(1.0))) / (within / (m(4) - m(5)))
    cells.groupBy(keys.map(col): _*).agg(fold.as("__m"))
      .select(keys.map(col) ++ Seq(
        m(5).cast("long").as("k_groups"), m(4).cast("long").as("n"),
        when(m(5) >= 2.0 && m(4) > m(5) && within > 0.0, f)
          .as("f_stat"),
        when(m(5) >= 2.0 && between + within > 0.0,
          between / (between + within)).as("eta_sq")): _*)
  }

  /**
   * Kruskal-Wallis H test per key — [[mannWhitneyU]]'s k-group
   * extension: do k groups share one location, judged on RANKS (no
   * normality assumed)? Computed in the ANOVA-on-ranks form
   * `H = (N−1)·Σ n_g(r̄_g − r̄)² / Σ(r_i − r̄)²`, which absorbs the
   * tie correction automatically (with average ranks the denominator
   * IS the tie-adjusted scatter — no separate C factor).
   *
   * Engine-exact: average ranks ride the HALF-integer grid, so the
   * engine carries DOUBLED ranks `r2 = 2·rank_min + t − 1` as exact
   * longs (rank window + tie count share one key exchange); per-group
   * rank sums and the global Σr2² are exact integers; the cross-group
   * collapse folds SEQUENTIALLY in group order (≡ list_reduce) as
   * `Σ R2_g²/(4 n_g)`, and H closes in one pinned chain against
   * `r̄ = (N+1)/2` (exact for average ranks regardless of ties).
   * Keys with < 2 groups or an all-tied sample emit null.
   *
   * Output: (keys…, k_groups, n, h) — H ≈ χ²(k−1) under the null.
   *
   * Scale posture: ONE key exchange carries the rank and tie
   * windows; the (keys, group) collapse is map-side; the fold runs
   * on the GROUP grid.
   */
  def kruskalWallis(df: DataFrame, keys: Seq[String], groupCol: String,
                    valueCol: String): DataFrame = {
    require(keys.nonEmpty, "kruskalWallis needs key columns")
    val v = col(valueCol).cast("double")
    val ranked = df
      .filter(v.isNotNull && col(groupCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__v", v)
      .withColumn("__r2", doubledMidrank(keys.map(col), col("__v")))
    val cells = ranked.groupBy(keys.map(col) :+ col(groupCol): _*)
      .agg(count(lit(1)).as("__ng"), sum(col("__r2")).as("__R2"),
        sum((col("__r2") * col("__r2")).cast("decimal(38,0)"))
          .as("__sq"))
    // fold in group order; state [A = Σ R2_g²/(4 n_g), B = Σ Σr2²,
    // N, K] — B sums per-group exact decimals in the SAME pinned
    // order, so no second pass over the ranked rows and no join
    val fold = aggregate(
      sort_array(collect_list(struct(col(groupCol).as("__g"),
        col("__ng").cast("double").as("__nd"),
        col("__R2").cast("double").as("__rd"),
        col("__sq").cast("double").as("__qd")))),
      array(lit(0.0), lit(0.0), lit(0.0), lit(0.0)),
      (acc, p) => array(
        element_at(acc, 1) + p.getField("__rd") * p.getField("__rd") /
          (lit(4.0) * p.getField("__nd")),
        element_at(acc, 2) + p.getField("__qd"),
        element_at(acc, 3) + p.getField("__nd"),
        element_at(acc, 4) + lit(1.0)))
    val m = (i: Int) => element_at(col("__m"), i)
    val nD = m(3)
    val c = (nD + lit(1.0)) / lit(2.0)
    val num = m(1) - nD * c * c
    val den = m(2) / lit(4.0) - nD * c * c
    cells.groupBy(keys.map(col): _*).agg(fold.as("__m"))
      .select(keys.map(col) ++ Seq(
        m(4).cast("long").as("k_groups"), nD.cast("long").as("n"),
        when(m(4) >= 2.0 && den > 0.0,
          (nD - lit(1.0)) * num / den).as("h")): _*)
  }

  /**
   * Wald-Wolfowitz runs test per key: is the sequence's wander around
   * its median RANDOM in time, or does it trend/oscillate? — the
   * model-free randomness check ([[durbinWatson]]'s rank-free
   * cousin): dichotomize each value against the key's DISCRETE lower
   * median (values equal to it drop — the standard continuous-data
   * convention), count runs of consecutive same-side values on the
   * (tsCol, tieCol) total order, and compare with the exact null
   * moments `E[R] = 2n₁n₂/N + 1`,
   * `Var = 2n₁n₂(2n₁n₂−N)/(N²(N−1))`.
   *
   * Engine-exact: values snap to the cent grid; the median is the
   * rank-⌊(N+1)/2⌋ value ([[brownForsythe]]'s rule); run boundaries
   * are exact lag comparisons; n₁, n₂, R are exact integers and the
   * z closing is one pinned chain (2n₁n₂ stays under 2⁵³ as a
   * double product — no long overflow by construction). Keys with an
   * empty side (n₁ = 0 or n₂ = 0) or N < 2 emit null z.
   *
   * Output: (keys…, n_above, n_below, runs, z) — z standard normal
   * under randomness; z ≪ 0 = too few runs (trending/clustered),
   * z ≫ 0 = too many (oscillating).
   *
   * Scale posture: one key exchange carries the median windows, the
   * post-filter run lag, and the closing collapse.
   */
  def runsTest(df: DataFrame, keys: Seq[String], tsCol: String,
               tieCol: String, valueCol: String,
               valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "runsTest needs key columns")
    import org.apache.spark.sql.expressions.Window
    val vc = unscaled(col(valueCol), valueScale)
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col("__vc"))
    val wAll = Window.partitionBy(keys.map(col): _*)
    val wT = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val signed = df
      .filter(col(tsCol).isNotNull && col(tieCol).isNotNull &&
        col(valueCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__vc", vc)
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__cnt", count(lit(1)).over(wAll))
      .withColumn("__med", max(when(col("__rn") ===
        ((col("__cnt") + 1L) / lit(2L)).cast("long"), col("__vc")))
        .over(wAll))
      .filter(col("__vc") =!= col("__med"))
      .withColumn("__up", col("__vc") > col("__med"))
      .withColumn("__chg",
        when(lag(col("__up"), 1).over(wT).isNull, 1L)
          .when(lag(col("__up"), 1).over(wT) =!= col("__up"), 1L)
          .otherwise(0L))
    val agg = signed.groupBy(keys.map(col): _*)
      .agg(sum(when(col("__up"), 1L).otherwise(0L)).as("n_above"),
        sum(when(col("__up"), 0L).otherwise(1L)).as("n_below"),
        sum(col("__chg")).as("runs"))
    val n1 = col("n_above").cast("double")
    val n2 = col("n_below").cast("double")
    val nD = n1 + n2
    val two = lit(2.0) * n1 * n2
    val e = two / nD + lit(1.0)
    val vr = two * (two - nD) / (nD * nD * (nD - lit(1.0)))
    agg.select(keys.map(col) ++ Seq(col("n_above"), col("n_below"),
      col("runs"),
      when(col("n_above") > 0L && col("n_below") > 0L &&
        col("n_above") + col("n_below") >= 2L && vr > 0.0,
        (col("runs").cast("double") - e) / sqrt(vr)).as("z")): _*)
  }

  /**
   * Cochran-Armitage trend test per key: is a binary outcome's rate
   * MONOTONE in an ordered dose (exposure bucket, severity tier,
   * price band)? — the experimentation family's ordered-groups
   * member: [[twoProportionZ]] compares two groups, this tests a
   * TREND across k ordered ones, with far more power than a k-group
   * chi-square when the alternative is ordered. Scores are the dose
   * values themselves (integer).
   *
   * `T = Σ t_g r_g − p̄ Σ t_g n_g`,
   * `Var = p̄(1−p̄)(Σ t_g² n_g − (Σ t_g n_g)²/N)`, `z = T/√Var`.
   *
   * Engine-exact: every sum (Σt r, Σt n, Σt² n, N, R) is an exact
   * integer — order-free, no fold needed; p̄ is ONE pinned division,
   * the complement `1 − p̄` is computed IN-expression, and the
   * closing chain is pinned IEEE. Degenerate keys (all-positive,
   * all-negative, single dose → Var 0) emit null z.
   *
   * Output: (keys…, n, n_pos, z) — one row per key; z is standard
   * normal under no-trend, signed by direction.
   *
   * Scale posture: ONE map-side-combined key aggregation; nothing
   * else.
   */
  def cochranArmitage(df: DataFrame, keys: Seq[String], doseCol: String,
                      outcomeCol: String): DataFrame = {
    require(keys.nonEmpty, "cochranArmitage needs key columns")
    val t = col(doseCol).cast("long")
    val y = col(outcomeCol).cast("boolean")
    val r = when(y, 1L).otherwise(0L)
    val agg = df
      .filter(t.isNotNull && y.isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(r).as("n_pos"),
        sum(t * r).as("__str"), sum(t).as("__stn"),
        sum(t * t).as("__sttn"))
    val nD = col("n").cast("double")
    val pbar = col("n_pos").cast("double") / nD
    val stn = col("__stn").cast("double")
    val tstat = col("__str").cast("double") - pbar * stn
    val v = pbar * (lit(1.0) - pbar) *
      (col("__sttn").cast("double") - stn * stn / nD)
    agg.select(keys.map(col) ++ Seq(col("n"), col("n_pos"),
      when(v > 0.0, tstat / sqrt(v)).as("z")): _*)
  }

  /**
   * Brown-Forsythe test (Levene's test on medians) per key: is the
   * VARIANCE homogeneous across groups? — the guard every
   * equal-variance procedure (pooled t, classic ANOVA) should run
   * first, and robust to non-normality where the original
   * mean-centered Levene is not. Per key, each group's values deviate
   * from their GROUP MEDIAN, `z = |x − med_g|`, and the statistic is
   * the one-way-ANOVA F on the z's:
   * `W = ((N−k)/(k−1)) · Σ n_g(z̄_g − z̄)² / Σ_g Σ_i (z_gi − z̄_g)²`.
   *
   * Engine-exact: values snap to the 10⁻ˢᶜᵃˡᵉ grid; the group median
   * is the DISCRETE lower median (the value at rank ⌊(n+1)/2⌋ of the
   * sorted group — percentile_disc semantics, no interpolation) so
   * deviations are exact integer grid units; per-group moments
   * (n, Σz, Σz²) are exact integer sums, each cast to double once
   * (correctly rounded, identical in any engine while Σz² stays
   * under 2⁵³ grid-units² — at scale raise `valueScale` down or
   * pre-scale); the cross-group scatter collapse folds SEQUENTIALLY
   * in group order (pinned IEEE ≡ list_reduce), and W closes in one
   * pinned chain. Keys with < 2 groups or zero within-scatter emit
   * null W.
   *
   * Output: (keys…, k_groups, n, w_stat) — one row per key. Compare
   * W against F(k−1, N−k); the quantile lookup is the caller's
   * (engine-pinned incomplete-beta is out of scope, same stance as
   * [[welchT]]).
   *
   * Scale posture: ONE (keys, group) exchange carries the median
   * window and the moment collapse; the per-key fold runs on the
   * GROUP grid.
   */
  def brownForsythe(df: DataFrame, keys: Seq[String], groupCol: String,
                    valueCol: String, valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "brownForsythe needs key columns")
    import org.apache.spark.sql.expressions.Window
    val vc = unscaled(col(valueCol), valueScale)
    val grp = keys.map(col) :+ col(groupCol)
    val wOrd = Window.partitionBy(grp: _*).orderBy(col("__vc"))
    val wAll = Window.partitionBy(grp: _*)
    val base = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__vc", vc)
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__med", max(when(col("__rn") ===
        ((col("__n") + 1L) / lit(2L)).cast("long"), col("__vc")))
        .over(wAll))
      .withColumn("__z", abs(col("__vc") - col("__med")))
    val cells = base.groupBy(grp: _*)
      .agg(count(lit(1)).as("__ng"), sum(col("__z")).as("__s"),
        sum((col("__z") * col("__z")).cast("decimal(38,0)")).as("__ss"))
    // per-key sequential fold over the group grid, state
    // [num = Σ S²/n, den = Σ(SS − S²/n), T = ΣS, N = Σn, K]
    val fold = aggregate(
      sort_array(collect_list(struct(col(groupCol).as("__g"),
        col("__ng").cast("double").as("__nd"),
        col("__s").cast("double").as("__sd"),
        col("__ss").cast("double").as("__ssd")))),
      array(lit(0.0), lit(0.0), lit(0.0), lit(0.0), lit(0.0)),
      (acc, p) => {
        val s = p.getField("__sd"); val ng = p.getField("__nd")
        val ss = p.getField("__ssd")
        array(element_at(acc, 1) + s * s / ng,
          element_at(acc, 2) + (ss - s * s / ng),
          element_at(acc, 3) + s,
          element_at(acc, 4) + ng,
          element_at(acc, 5) + lit(1.0))
      })
    val m = (i: Int) => element_at(col("__m"), i)
    cells.groupBy(keys.map(col): _*)
      .agg(fold.as("__m"))
      .withColumn("w_stat",
        when(m(5) >= 2.0 && m(2) > 0.0,
          ((m(4) - m(5)) / (m(5) - lit(1.0))) *
            (m(1) - m(3) * m(3) / m(4)) / m(2)))
      .select(keys.map(col) ++ Seq(m(5).cast("long").as("k_groups"),
        m(4).cast("long").as("n"), col("w_stat")): _*)
  }

  /**
   * Binned quantile regression at fixed τ per group — the scalable
   * estimator of a CONDITIONAL quantile curve ("the p90 latency as a
   * function of payload size"): bucket the covariate into fixed-width
   * bins, take the EXACT weighted τ-quantile of the response in each
   * bin (the [[graft.agg.GroupBy.weightedPercentilesDisc]] discipline
   * — cumulative centi-unit weights, decimal threshold, ties share
   * mass), then fit the mass-weighted least-squares LINE through the
   * bin quantile points `(x_mid, q_τ)` — the two-stage binned form of
   * quantile regression (exact LP quantile regression is O(n³) and
   * dead at corpus scale; the binned estimator is the standard
   * large-data form and `binWidth` is the resolution dial).
   *
   * Engine-exact: weights scale to integer centi-units (exact longs),
   * the τ threshold is one DECIMAL(6,5) × DECIMAL(20,0) product, and
   * a value qualifies iff `cum ≥ τ·W ∧ cum_before < τ·W`; the stage-2
   * moments fold SEQUENTIALLY in bin order over the per-key bin grid
   * (pinned IEEE chain, ≡ list_reduce with a DOUBLE[] state), with
   * `x_mid = (bin + 0.5)·binWidth` computed in-expression; the
   * closing slope/intercept divisions are pinned. τ carries at most
   * 5 decimal digits.
   *
   * Output: (keys…, bin, x_mid, w, q_tau, slope, intercept) — one row
   * per non-empty bin; `w` is the bin's total weight in original
   * units; slope/intercept are the per-key line, repeated on each of
   * the key's rows (null when the key has < 2 distinct bins or zero
   * x-scatter). Rows with null x/value or non-positive weight are
   * ignored.
   *
   * Scale posture: one (keys, bin) exchange carries the quantile
   * windows; stage 2 runs on the BIN GRID (grid-sized per key), never
   * on raw rows.
   */
  def quantileRegression(df: DataFrame, keys: Seq[String], xCol: String,
                         valueCol: String, weightCol: String,
                         tau: Double, binWidth: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must lie in (0, 1], got $tau")
    require((BigDecimal(tau.toString) * 100000).isWhole,
      s"tau supports at most 5 decimal digits, got $tau")
    require(binWidth > 0, s"binWidth must be > 0, got $binWidth")
    require(keys.nonEmpty, "quantileRegression needs key columns")
    import org.apache.spark.sql.expressions.Window
    val x = col(xCol).cast("double")
    val bin = floor(x / binWidth).cast("long")
    val base = df
      .filter(x.isNotNull && col(valueCol).isNotNull &&
        col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__bin", bin)
      .withColumn("__wt",
        (col(weightCol).cast("decimal(18,2)") * 100).cast("long"))
    val grp = keys.map(col) :+ col("__bin")
    val wOrd = Window.partitionBy(grp: _*).orderBy(col(valueCol))
    val wAll = Window.partitionBy(grp: _*)
    val wTie = Window.partitionBy(grp: _*).orderBy(col(valueCol))
      .rangeBetween(Window.currentRow, Window.currentRow)
    val thr = lit(tau).cast("decimal(6,5)") *
      col("__tot").cast("decimal(20,0)")
    val cells = base
      .withColumn("__cum", sum("__wt").over(wOrd))
      .withColumn("__tot", sum("__wt").over(wAll))
      .withColumn("__tie", sum("__wt").over(wTie))
      .withColumn("__before", col("__cum") - col("__tie"))
      .filter(col("__cum") >= thr && col("__before") < thr)
      .groupBy(grp: _*)
      // all qualifying rows share one (tied) value; min collapses them
      .agg(min(col(valueCol).cast("double")).as("__q"),
        max(col("__tot")).as("__wc"))
      .withColumn("__xm", (col("__bin").cast("double") + lit(0.5)) *
        lit(binWidth))
    // stage 2: per-key weighted OLS through the bin points, folded in
    // bin order with a five-double state (centi-unit weights — a
    // uniform scale that cancels in the closing divisions' algebra
    // but is PART of the pinned chain, so the oracle uses it too)
    val fold = aggregate(
      sort_array(collect_list(struct(col("__bin"), col("__xm"),
        col("__q"), col("__wc").cast("double").as("__w")))),
      array(lit(0.0), lit(0.0), lit(0.0), lit(0.0), lit(0.0)),
      (acc, p) => {
        val w = p.getField("__w"); val xm = p.getField("__xm")
        val q = p.getField("__q")
        array(element_at(acc, 1) + w,
          element_at(acc, 2) + w * xm,
          element_at(acc, 3) + w * q,
          element_at(acc, 4) + w * xm * xm,
          element_at(acc, 5) + w * xm * q)
      })
    val lines = cells.groupBy(keys.map(col): _*)
      .agg(fold.as("__m"), countDistinct(col("__bin")).as("__nb"))
      .withColumn("__den",
        element_at(col("__m"), 1) * element_at(col("__m"), 4) -
          element_at(col("__m"), 2) * element_at(col("__m"), 2))
      .withColumn("slope", when(col("__nb") >= 2 && col("__den") =!= 0.0,
        (element_at(col("__m"), 1) * element_at(col("__m"), 5) -
          element_at(col("__m"), 2) * element_at(col("__m"), 3)) /
          col("__den")))
      .withColumn("intercept", when(col("slope").isNotNull,
        (element_at(col("__m"), 3) -
          col("slope") * element_at(col("__m"), 2)) /
          element_at(col("__m"), 1)))
      .select(keys.map(col) :+ col("slope") :+ col("intercept"): _*)
    // per-key line table is grid-sized — broadcast it back onto the
    // (already grid-sized) bin rows rather than shuffling either side
    cells.join(broadcast(lines), keys, "left")
      .select(keys.map(col) ++ Seq(col("__bin").as("bin"),
        col("__xm").as("x_mid"),
        (col("__wc").cast("double") / lit(100.0)).as("w"),
        col("__q").as("q_tau"), col("slope"), col("intercept")): _*)
  }

  /**
   * Brier score per group: mean squared error of probabilistic
   * predictions against binary outcomes — [[calibration]]'s scalar
   * companion (0 = perfect, 0.25 = uninformed coin at base rate 0.5).
   *
   * Same 10⁻⁹ probability grid; each residual square is an EXACT
   * decimal, the sum is snapped to the 10⁻⁶ grid before its single
   * double cast (`Snap.truncated`, as in zipfSlope — a scale-18 sum can
   * exceed 2⁵³ units, where engines' decimal→double casts are not
   * bit-identical), and the closing division is pinned.
   *
   * Output: (keys…, n, brier).
   */
  def brierScore(df: DataFrame, keys: Seq[String], probCol: String,
                 labelCol: String): DataFrame = {
    val p = col(probCol).cast("double")
    val y = col(labelCol).cast("boolean")
    val base = df.filter(p.isNotNull && y.isNotNull &&
      p >= 0.0 && p <= 1.0)
    val p9 = round(p, 9).cast("decimal(18,9)")
    val resid = p9 - when(y, 1L).otherwise(0L).cast("decimal(18,9)")
    val m = base
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum((resid * resid).cast("decimal(38,18)")).as("__ss"))
    val snapped = truncated(col("__ss"), 6)
    m.select(keys.map(col) ++ Seq(col("n"),
      when(col("n") > 0, snapped / col("n").cast("double"))
        .as("brier")): _*)
  }

  /**
   * Ratio-of-sums metric with a delta-method confidence interval per
   * group: `r = Σy / Σx` (revenue per session, cost per unit — the
   * metric family where averaging per-row ratios is WRONG), with
   * `se(r) = sqrt(n/(n−1) · Σ(yᵢ − r·xᵢ)²) / Σx` via the linearized
   * residual identity `Σ(y − r·x)² = Σy² − 2r·Σxy + r²·Σx²` — so the
   * whole statistic closes from five exact decimal moments in one
   * pinned IEEE chain (the [[pearsonMatrix]] discipline), and the
   * 95% CI is `r ± 1.96·se` with the critical value a pinned literal.
   *
   * Listwise null exclusion; groups with `Σx ≤ 0` or `n < 2` emit
   * null ratio statistics (n and the sums still report).
   *
   * `momentSnapScale`: the second moments round (half-up, identical
   * in any engine) to this decimal scale before their ONE double
   * cast — keep `Σ·10^scale` under 2⁵³ or the engines' decimal→double
   * casts diverge (the wide-decimal pitfall). Money-scale data wants
   * 0 (Σy² in cents² is astronomically past any se's precision needs);
   * unit-interval data wants the default 6.
   *
   * Output: (keys…, n, sum_num, sum_den, ratio, se, ci_lo, ci_hi).
   *
   * Scale posture: ONE map-side-combined moment aggregation; closing
   * on |groups| rows.
   */
  def ratioOfSums(df: DataFrame, keys: Seq[String], numCol: String,
                  denCol: String, numScale: Int = 2, denScale: Int = 2,
                  momentSnapScale: Int = 6): DataFrame = {
    require(momentSnapScale >= 0 && momentSnapScale <= 6,
      s"momentSnapScale must be in [0, 6], got $momentSnapScale")
    val y = col(numCol).cast(s"decimal(18,$numScale)")
    val x = col(denCol).cast(s"decimal(18,$denScale)")
    val m = Moments.collapse(
      df.filter(col(numCol).isNotNull && col(denCol).isNotNull)
        .groupBy(keys.map(col): _*), x, y, _.cast("decimal(38,6)"))
    val n = d(col("__n"))
    val sx = d(col("__sx")); val sy = d(col("__sy"))
    def snap(c: String): Column = truncated(col(c), momentSnapScale)
    val sxy = snap("__sxy"); val sxx = snap("__sxx"); val syy = snap("__syy")
    val r = sy / sx
    // clamp at 0: the snapped moments are truncated INDEPENDENTLY, so
    // for exactly proportional data (y = r·x) the identity can close
    // epsilon-negative and sqrt would emit NaN instead of ~0
    val rss = greatest(syy - lit(2.0) * r * sxy + r * r * sxx, lit(0.0))
    val se = sqrt(n / (n - lit(1.0)) * rss) / sx
    val ok = col("__n") >= 2 && sx > 0.0
    m.select(keys.map(col) ++ Seq(col("__n").as("n"),
      sy.as("sum_num"), sx.as("sum_den"),
      when(sx > 0.0, r).as("ratio"),
      when(ok, se).as("se"),
      when(ok, r - lit(1.96) * se).as("ci_lo"),
      when(ok, r + lit(1.96) * se).as("ci_hi")): _*)
  }

  /**
   * Split-conformal calibration quantile per group: the
   * `⌈(n+1)(1−α)⌉`-th smallest nonconformity score — the q̂ that makes
   * prediction sets `ŷ ± q̂` valid at level 1−α under exchangeability
   * (the distribution-free coverage guarantee behind conformal
   * prediction). Emitted as an ORDER STATISTIC (an actual score from
   * the calibration set, never an interpolation), so it is exact and
   * engine-identical; ties in the score order break on `idCol` (the
   * q207 total-order discipline — the picked VALUE is tie-invariant,
   * the ordering just makes the plan deterministic).
   *
   * Groups with `⌈(n+1)(1−α)⌉ > n` (too few calibration points for
   * the level) emit a null q̂ — the honest answer; finite-sample
   * validity is impossible there.
   *
   * Output: (keys…, n, k, q_hat).
   *
   * Scale posture: one group exchange carries the rank window and the
   * closing aggregate; the rank ≤ k cut collapses map-side
   * (WindowGroupLimit) for hot groups.
   */
  def conformalQuantile(df: DataFrame, keys: Seq[String],
                        scoreCol: String, idCol: String,
                        alpha: Double = 0.1): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    import org.apache.spark.sql.expressions.Window
    val wk = Window.partitionBy(keys.map(col): _*)
    val ranked = df
      .filter(col(scoreCol).isNotNull)
      .withColumn("__rk", row_number().over(
        wk.orderBy(col(scoreCol).asc, col(idCol).asc)))
      .withColumn("__n", count(lit(1)).over(wk))
    // k = ceil((n+1)(1-alpha)) via exact integer arithmetic on the
    // 1e-6 alpha grid: k = floor(((n+1)·scaled - 1)/1e6) + 1
    val scaled = math.round((1.0 - alpha) * 1e6)
    val num = (col("__n") + 1L) * lit(scaled) - 1L
    val k = ((num - pmod(num, lit(1000000L))) / lit(1000000L))
      .cast("long") + 1L
    ranked
      .withColumn("__k", k)
      .groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("n"), max(col("__k")).as("k"),
        max(when(col("__rk") === col("__k"), col(scoreCol)))
          .as("q_hat"))
  }

  /**
   * ROC AUC per group: the probability a random positive outranks a
   * random negative, `P(s⁺ > s⁻) + ½·P(s⁺ = s⁻)` — threshold-free
   * ranking quality, the metric [[brierScore]]/[[calibration]] can't
   * see (they grade probabilities; AUC grades the ORDER). Computed by
   * the rank-sum identity `AUC = (R⁺ − n₁(n₁+1)/2) / (n₁n₀)` with
   * midranks for ties, which makes it EXACT: rows collapse map-side
   * to the (keys, score) grid with positive/total counts, one group
   * exchange carries the cumulative-count window, and the DOUBLED
   * positive rank-sum `Σ c₁·(2·cum − c + 1)` accumulates as
   * DECIMAL(38,0) integers (the [[mannWhitneyU]] discipline — AUC is
   * U/n₁n₀ by the same identity), so the only IEEE arithmetic is the
   * one closing division. Engine-identical at any parallelism.
   *
   * Null scores/labels excluded listwise; a group missing either
   * class emits null AUC (n_pos/n_neg still report).
   *
   * Output: (keys…, n_pos, n_neg, auc).
   *
   * Envelope: Σc₁·(2cum) ≤ 2n² must fit DECIMAL(38) — n to ~10^18.
   *
   * Scale posture: grid collapse is map-side-combined; ONE exchange
   * on the group keys serves the rank window and the closing
   * aggregate. Nothing per-row crosses the wire twice.
   */
  def rocAuc(df: DataFrame, keys: Seq[String], scoreCol: String,
             labelCol: String, scoreScale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = col(scoreCol).cast(s"decimal(18,$scoreScale)")
    val y = col(labelCol).cast("boolean")
    val grid = df
      .filter(col(scoreCol).isNotNull && y.isNotNull)
      .groupBy(keys.map(col) :+ s.as("__s"): _*)
      .agg(sum(when(y, 1L).otherwise(0L)).as("__c1"),
        count(lit(1)).as("__c"))
    val wk = Window.partitionBy(keys.map(col): _*).orderBy(col("__s"))
    // doubled midrank of this score's tie run: lo+hi = 2·cum − c + 1
    val ranked = grid
      .withColumn("__cum", sum(col("__c")).over(wk))
      .withColumn("__r2", lit(2L) * col("__cum") - col("__c") + 1L)
    val m = ranked.groupBy(keys.map(col): _*)
      .agg(sum(col("__c1")).as("n_pos"),
        sum(col("__c") - col("__c1")).as("n_neg"),
        sum((col("__c1").cast("decimal(19,0)") *
          col("__r2").cast("decimal(19,0)")).cast("decimal(38,0)"))
          .as("__r2sum"))
    val n1 = d(col("n_pos")); val n0 = d(col("n_neg"))
    // 2·U⁺ = 2R⁺ − n₁(n₁+1) keeps the numerator integer-exact
    val u2 = d(col("__r2sum")) - n1 * (n1 + lit(1.0))
    m.select(keys.map(col) ++ Seq(col("n_pos"), col("n_neg"),
      when(col("n_pos") >= 1 && col("n_neg") >= 1,
        u2 / (lit(2.0) * n1 * n0)).as("auc")): _*)
  }

  /**
   * Average precision (AUC-PR) per group — [[rocAuc]]'s companion for
   * imbalanced labels, where ROC flatters: the step-function area
   * `AP = Σ_k ΔTP_k · precision_k / n_pos` over distinct score
   * thresholds descending (the interpolation-free convention).
   *
   * Engine-exact: scores snap to the 10⁻ˢᶜᵃˡᵉ grid and collapse to
   * per-score (pos, total) counts; cumulative TP/ALL are exact
   * integers on one descending window; each threshold's
   * `ΔTP · (TP/ALL)` is a pinned double that folds SEQUENTIALLY in
   * score-descending order (sorted fold — bare double SUM would be
   * partial-order-dependent), one closing division by n_pos.
   * Thresholds with no positives contribute nothing and stay out of
   * the fold.
   *
   * Output: (keys…, n_pos, n_neg, ap); null ap when there are no
   * positives (AP is undefined — the closing division has no
   * denominator). Zero NEGATIVES is well-defined and yields ap = 1
   * (every threshold's precision is 1), unlike [[rocAuc]] which
   * needs both classes.
   *
   * Scale posture: one map-side-combined score-grid collapse, one key
   * exchange for the cumulative window, one grid-sized fold.
   */
  def averagePrecision(df: DataFrame, keys: Seq[String], scoreCol: String,
                       labelCol: String, scoreScale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keys.nonEmpty, "averagePrecision needs key columns")
    val s = col(scoreCol).cast(s"decimal(18,$scoreScale)")
    val y = col(labelCol).cast("boolean")
    val grid = df
      .filter(col(scoreCol).isNotNull && y.isNotNull)
      .groupBy(keys.map(col) :+ s.as("__s"): _*)
      .agg(sum(when(y, 1L).otherwise(0L)).as("__c1"),
        count(lit(1)).as("__c"))
    val wk = Window.partitionBy(keys.map(col): _*).orderBy(col("__s").desc)
    val cumd = grid
      .withColumn("__tp", sum(col("__c1")).over(wk))
      .withColumn("__all", sum(col("__c")).over(wk))
    val term = col("__c1").cast("double") *
      (col("__tp").cast("double") / col("__all").cast("double"))
    val m = cumd.groupBy(keys.map(col): _*)
      .agg(sum(col("__c1")).as("n_pos"),
        sum(col("__c") - col("__c1")).as("n_neg"),
        aggregate(
          sort_array(collect_list(
            when(col("__c1") > 0L, struct(col("__s"), term.as("t")))),
            asc = false),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("__ap"))
    m.select(keys.map(col) ++ Seq(col("n_pos"), col("n_neg"),
      when(col("n_pos") >= 1L,
        col("__ap") / col("n_pos").cast("double")).as("ap")): _*)
  }

  /**
   * Winsorized mean per group — [[trimmedMean]]'s replace-instead-of-
   * drop sibling: the lowest and highest `⌊n·winsorFrac⌋` observations
   * CLAMP to the boundary order statistics (ranks k+1 and n−k), the
   * mean runs over all n. Less variance thrown away than trimming;
   * the standard choice when tail ROWS are real but tail MAGNITUDES
   * are noise.
   *
   * Same exact machinery as [[trimmedMean]]: value-grid collapse, one
   * cumulative window, integer rank-interval arithmetic; the clamp
   * bounds are conditional minima over the same grid, the sum is
   * exact integer units with ONE closing division.
   *
   * Output: (keys…, n, winsorized_mean).
   */
  def winsorizedMean(df: DataFrame, keys: Seq[String], valueCol: String,
                     winsorFrac: Double, valueScale: Int = 2): DataFrame = {
    require(winsorFrac >= 0.0 && winsorFrac < 0.5,
      s"winsorFrac must be in [0, 0.5), got $winsorFrac")
    require(keys.nonEmpty, "winsorizedMean needs key columns")
    import org.apache.spark.sql.expressions.Window
    val vc = unscaled(col(valueCol), valueScale)
    val grid = df.filter(col(valueCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ vc.as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val wk = Window.partitionBy(keys.map(col): _*)
    val cum = grid
      .withColumn("__cum", sum(col("__c")).over(wk.orderBy(col("__v"))))
      .withColumn("__n", sum(col("__c")).over(wk))
      .withColumn("__k",
        floor(col("__n").cast("double") * lit(winsorFrac)).cast("long"))
    val keptInner = greatest(lit(0L),
      least(col("__cum"), col("__n") - col("__k")) -
        greatest(col("__cum") - col("__c"), col("__k")))
    cum
      .withColumn("__inner", keptInner)
      .groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("n"), max(col("__k")).as("__kk"),
        sum((col("__v") * col("__inner")).cast("decimal(38,0)")).as("__s"),
        min(when(col("__cum") >= col("__k") + 1L, col("__v"))).as("__lo"),
        min(when(col("__cum") >= col("__n") - col("__k"), col("__v")))
          .as("__hi"))
      .select(keys.map(col) ++ Seq(col("n"),
        ((col("__s") + col("__kk") * col("__lo") +
          col("__kk") * col("__hi")).cast("double") /
          col("n").cast("double") / lit(math.pow(10, valueScale)))
          .as("winsorized_mean")): _*)
  }

  /**
   * Theil index per group: `T = (1/n) Σ (xᵢ/μ) ln(xᵢ/μ)` — the
   * entropy-based inequality measure (0 = perfect equality, ln n =
   * one row owns everything), [[giniIndex]]'s decomposable sibling.
   * Strictly-positive values only (the log's domain); zero/negative
   * rows are excluded, matching the standard convention.
   *
   * Engine-exact: values collapse to the 10⁻ˢᶜᵃˡᵉ grid; μ is ONE
   * pinned double division of the exact decimal sum; each distinct
   * value's `c·(v/μ)·ln(v/μ)` rounds to the 10⁻⁹ grid (libm-consistent
   * log) and sums in DECIMAL, one closing division by n.
   *
   * Output: (keys…, n, theil).
   */
  def theilIndex(df: DataFrame, keys: Seq[String], valueCol: String,
                 valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "theilIndex needs key columns")
    val v = col(valueCol).cast(s"decimal(18,$valueScale)")
    val grid = df.filter(col(valueCol).isNotNull && v > 0 &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ v.as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val tot = grid.groupBy(keys.map(col): _*)
      .agg(sum(col("__c")).as("n"), sum(col("__v") * col("__c"))
        .cast("decimal(38,6)").as("__sv"))
    val mu = col("__sv").cast("double") / col("n").cast("double")
    val ratio = col("__v").cast("double") / col("__mu")
    // key-keyed grid join, no broadcast hint: per-key stats at 100 TB
    // keyspaces must be allowed to shuffle (the robustZScores rule);
    // AQE broadcasts when the key grid is genuinely small
    grid.join(tot.withColumn("__mu", mu)
        .select(keys.map(col) :+ col("n") :+ col("__mu"): _*), keys)
      .withColumn("__t",
        round(col("__c").cast("double") * (ratio *
          graft.functions.MathFunctions.libmLog(ratio)), 9)
          .cast("decimal(12,9)"))
      .groupBy(keys.map(col): _*)
      .agg(max(col("n")).as("n"),
        (sum(col("__t")).cast("double") /
          max(col("n")).cast("double")).as("theil"))
  }

  /**
   * Hoover (Robin Hood) index per group:
   * `H = Σ|xᵢ − μ| / (2·n·μ)` — the share of total mass that would
   * have to move to equalize everyone, the inequality measure with a
   * direct operational reading (and no logs anywhere).
   *
   * FULLY integer-exact: on the 10⁻ˢᶜᵃˡᵉ grid,
   * `Σ|xᵢ − μ| ∝ Σ_v c_v·|n·v − S|` (units cancel against the
   * denominator, leaving `H = T / (2·n·S)` with T, n, S exact
   * integers) — one closing double division, nothing else floats.
   *
   * Output: (keys…, n, hoover); null when the group total is 0.
   *
   * Scale posture: value-grid collapse, grid-sized totals join back
   * (key-keyed, no broadcast hint — the robustZScores rule), one
   * closing aggregation.
   */
  def hooverIndex(df: DataFrame, keys: Seq[String], valueCol: String,
                  valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "hooverIndex needs key columns")
    val vc = unscaled(col(valueCol), valueScale)
    val grid = df.filter(col(valueCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ vc.as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val tot = grid.groupBy(keys.map(col): _*)
      .agg(sum(col("__c")).as("n"),
        sum((col("__v") * col("__c")).cast("decimal(38,0)")).as("__s"))
    grid.join(tot, keys)
      .withColumn("__t", (col("__c").cast("decimal(38,0)") *
        abs(col("n").cast("decimal(38,0)") * col("__v") - col("__s")))
        .cast("decimal(38,0)"))
      .groupBy(keys.map(col): _*)
      .agg(max(col("n")).as("n"), max(col("__s")).as("__ss"),
        sum(col("__t")).as("__tt"))
      .select(keys.map(col) ++ Seq(col("n"),
        when(col("__ss") > 0,
          col("__tt").cast("double") /
            (lit(2.0) * col("n").cast("double") *
              col("__ss").cast("double"))).as("hoover")): _*)
  }

  /**
   * Market concentration per group: the Herfindahl-Hirschman index
   * `HHI = Σ (xₑ/S)²` over entity totals (1/|entities| = uniform,
   * 1 = monopoly) plus the top-4 concentration ratio `CR4` — the
   * standard pair behind "is this key's traffic dominated by a few
   * producers" (suppliers, domains, sources).
   *
   * Exact arithmetic: entity totals are exact integer units;
   * `HHI = Σ t²_e / S²` closes as one exact-integer-sum division
   * (oracle envelope: Σ t² under 2⁵³ — unit-scale the value column
   * down if entity totals exceed ~3·10⁷ units); CR4 is an exact
   * integer ratio via the rank window.
   *
   * Output: (keys…, n_entities, hhi, cr4); CR4 = 1 when a key has ≤4
   * entities.
   */
  def hhi(df: DataFrame, keys: Seq[String], entityCol: String,
          valueCol: String, valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "hhi needs key columns")
    import org.apache.spark.sql.expressions.Window
    val vc = unscaled(col(valueCol), valueScale)
    val ent = df.filter(col(valueCol).isNotNull &&
        col(entityCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ col(entityCol).as("__e"): _*)
      .agg(sum(vc.cast("decimal(38,0)")).as("__t"))
    // rank by total desc, entity asc (total order) for the CR4 cut
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").desc, col("__e").asc)
    ent.withColumn("__r", row_number().over(w))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_entities"),
        sum(col("__t")).as("__s"),
        sum((col("__t") * col("__t")).cast("decimal(38,0)")).as("__s2"),
        sum(when(col("__r") <= 4, col("__t")).otherwise(lit(0L)
          .cast("decimal(38,0)"))).as("__top4"))
      .select(keys.map(col) ++ Seq(col("n_entities"),
        when(col("__s") > 0, col("__s2").cast("double") /
          (col("__s").cast("double") * col("__s").cast("double")))
          .as("hhi"),
        when(col("__s") > 0, col("__top4").cast("double") /
          col("__s").cast("double")).as("cr4")): _*)
  }

  /**
   * Sequential probability ratio test (Wald's SPRT) per key, for
   * Bernoulli outcomes: walk the events in time order accumulating
   * `LLR_n = s·ln(p₁/p₀) + (n−s)·ln((1−p₁)/(1−p₀))`; decide
   * `accept_h1` the first time LLR ≥ ln((1−β)/α), `accept_h0` at
   * LLR ≤ ln(β/(1−α)) — the always-valid early-stopping A/B monitor
   * ("call the experiment the moment the evidence allows"), replayed
   * deterministically over logged data.
   *
   * Engine-exact: the four log constants are DRIVER-SIDE literals
   * rounded to the 10⁻⁹ grid, so every LLR is an EXACT decimal
   * (integer counts × decimal literals) and the boundary comparisons
   * have no float ambiguity anywhere — any ANSI engine replays the
   * walk bit-for-bit. Crossing = the EARLIEST qualifying position on
   * the (tsCol, tieCol) total order.
   *
   * Output: one row per key — (keys…, n_total, n_pos, decision,
   * n_at_decision, llr_at_decision); undecided keys carry a null
   * decision with the final LLR.
   *
   * Scale posture: one key exchange carries the cumulative windows
   * and the first-crossing rank cut; per-key linear.
   */
  def sprt(df: DataFrame, keys: Seq[String], tsCol: String, tieCol: String,
           outcomeCol: String, p0: Double, p1: Double,
           alpha: Double = 0.05, beta: Double = 0.2): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"p0/p1 must be distinct probabilities in (0,1), got $p0/$p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      "alpha/beta in (0,1)")
    require(keys.nonEmpty, "sprt needs key columns")
    import org.apache.spark.sql.expressions.Window
    def lit9(x: Double): Column =
      lit(BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal)
    val c1 = lit9(math.log(p1 / p0))
    val c0 = lit9(math.log((1.0 - p1) / (1.0 - p0)))
    val upper = lit9(math.log((1.0 - beta) / alpha))
    val lower = lit9(math.log(beta / (1.0 - alpha)))
    val y = col(outcomeCol).cast("boolean")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wk = Window.partitionBy(keys.map(col): _*)
    val walked = df
      // tieCol non-null: see msprt — keeps the total order
      // engine-independent (Spark NULLS FIRST vs ANSI NULLS LAST)
      .filter(col(tsCol).isNotNull && col(tieCol).isNotNull &&
        y.isNotNull)
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s", sum(when(y, 1L).otherwise(0L)).over(w))
      .withColumn("__llr",
        (col("__s") * c1 + (col("__n") - col("__s")) * c0)
          .cast("decimal(38,9)"))
      .withColumn("__dec",
        when(col("__llr") >= upper, lit("accept_h1"))
          .when(col("__llr") <= lower, lit("accept_h0")))
      .withColumn("__nt", count(lit(1)).over(wk))
      .withColumn("__st", sum(when(y, 1L).otherwise(0L)).over(wk))
    // earliest crossing; undecided keys fall back to their LAST row
    // (decided sort first by n ascending; undecided by n DESCENDING
    // via negation, so rank 1 is the final row)
    val pick = walked
      .withColumn("__r", row_number().over(Window
        .partitionBy(keys.map(col): _*)
        .orderBy(when(col("__dec").isNotNull, 0L).otherwise(1L).asc,
          when(col("__dec").isNotNull, col("__n"))
            .otherwise(-col("__n")).asc)))
      .filter(col("__r") === 1)
    pick.select(keys.map(col) ++ Seq(col("__nt").as("n_total"),
      col("__st").as("n_pos"), col("__dec").as("decision"),
      when(col("__dec").isNotNull, col("__n")).as("n_at_decision"),
      col("__llr").cast("double").as("llr_at_decision")): _*)
  }

  /**
   * Mixture SPRT (mSPRT) per key — ALWAYS-VALID inference for a
   * Bernoulli rate, the modern continuous-monitoring alternative to
   * [[sprt]] (which needs a point alternative p₁) and
   * [[groupSequential]] (which needs a fixed look schedule): the
   * likelihood ratio mixes the alternative over N(θ₀, τ²), giving
   * `Λ_n = √(σ²/(σ²+nτ²)) · exp(τ²(S−nθ₀)² / (2σ²(σ²+nτ²)))` with
   * σ² = θ₀(1−θ₀), and `p_n = 1/max_{m≤n} Λ_m` is a valid p-value at
   * EVERY n simultaneously — peek whenever, stop whenever.
   *
   * Runs entirely in LOG space (no exp/Φ at runtime):
   * `ln Λ_n = 0.5·ln(σ²/(σ²+nτ²)) + τ²(S−nθ₀)²/(2σ²(σ²+nτ²))`,
   * rejecting when ln Λ_n ≥ ln(1/α). The ln is the repo's round-9
   * libm kernel (bit-consistent with an ANSI engine's
   * `round(ln(x), 9)`); σ², τ² and the threshold are driver-side
   * literals on the 10⁻⁹ grid; `S − nθ₀` closes EXACTLY in decimal
   * (integer counts × the θ₀ literal) before one correctly-rounded
   * double cast; everything after is a pinned IEEE chain. Crossing =
   * the EARLIEST qualifying position on the (tsCol, tieCol) total
   * order — identical to the running-max p-value rule, since the
   * first `ln Λ ≥ ln(1/α)` is the first `p ≤ α`.
   *
   * Output: one row per key — (keys…, n_total, n_pos, decision
   * `reject`/null, n_at_decision, log_lambda_at_decision); undecided
   * keys carry the FINAL row's ln Λ (p = e^(−max ln Λ) if a p-value
   * is wanted downstream).
   *
   * Scale posture: one key exchange carries the cumulative windows
   * and the first-crossing rank cut; per-key linear ([[sprt]]'s
   * exact shape).
   */
  def msprt(df: DataFrame, keys: Seq[String], tsCol: String,
            tieCol: String, outcomeCol: String, theta0: Double,
            tau: Double, alpha: Double = 0.05): DataFrame = {
    require(theta0 > 0 && theta0 < 1, s"theta0 must be in (0,1), got $theta0")
    require(tau > 0, s"tau must be > 0, got $tau")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(keys.nonEmpty, "msprt needs key columns")
    import org.apache.spark.sql.expressions.Window
    def r9(x: Double): java.math.BigDecimal =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).bigDecimal
    val sig2 = lit(r9(theta0 * (1.0 - theta0)).doubleValue)
    val tau2 = lit(r9(tau * tau).doubleValue)
    val thr = lit(r9(math.log(1.0 / alpha)).doubleValue)
    val y = col(outcomeCol).cast("boolean")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wk = Window.partitionBy(keys.map(col): _*)
    val denom = sig2 + col("__n").cast("double") * tau2
    val dev = (col("__s").cast("decimal(38,9)") -
      col("__n") * lit(r9(theta0))).cast("double")
    val logLam = lit(0.5) *
      round(graft.functions.MathFunctions.libmLog(sig2 / denom), 9) +
      tau2 * dev * dev / (lit(2.0) * sig2 * denom)
    val walked = df
      // tieCol non-null too: a null tie value orders NULLS FIRST in
      // Spark ASC windows but NULLS LAST in ANSI engines — excluding
      // it keeps the total order engine-independent (whole-class fix,
      // round-15 advisory)
      .filter(col(tsCol).isNotNull && col(tieCol).isNotNull &&
        y.isNotNull && keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s", sum(when(y, 1L).otherwise(0L)).over(w))
      .withColumn("__ll", logLam)
      .withColumn("__dec", when(col("__ll") >= thr, lit("reject")))
      .withColumn("__nt", count(lit(1)).over(wk))
      .withColumn("__st", sum(when(y, 1L).otherwise(0L)).over(wk))
    val pick = walked
      .withColumn("__r", row_number().over(Window
        .partitionBy(keys.map(col): _*)
        .orderBy(when(col("__dec").isNotNull, 0L).otherwise(1L).asc,
          when(col("__dec").isNotNull, col("__n"))
            .otherwise(-col("__n")).asc)))
      .filter(col("__r") === 1)
    pick.select(keys.map(col) ++ Seq(col("__nt").as("n_total"),
      col("__st").as("n_pos"), col("__dec").as("decision"),
      when(col("__dec").isNotNull, col("__n")).as("n_at_decision"),
      col("__ll").as("log_lambda_at_decision")): _*)
  }

  /**
   * Group-sequential A/B test per key — the industry-standard
   * interim-analysis discipline ([[sprt]]'s fixed-schedule sibling):
   * the experiment's events split into `boundaries.length` equal-size
   * looks on the (tsCol, tieCol) total order; at each look the
   * CUMULATIVE two-proportion z between treatment and control is
   * compared against that look's critical value, and the experiment
   * stops at the FIRST crossing. With O'Brien-Fleming-style
   * boundaries (steeply conservative early: `c·√(K/k)`, or the
   * Lan-DeMets OBF alpha-spending series) the overall type-I error
   * holds at the design α despite peeking K times — the fix for the
   * peeking problem that plain per-look z tests at 1.96 do not have.
   *
   * Boundaries are CALLER-SUPPLIED literals (pinned to the 10⁻⁹ grid
   * — the [[sprt]] literal discipline), not computed here: computing
   * OBF/spending boundaries needs the normal CDF and numerical
   * integration, which no ANSI replay engine reproduces bit-for-bit,
   * while published constants (e.g. classic OBF K=5 two-sided
   * α≈0.05: `2.04·√(5/k)` = 4.562, 3.226, 2.634, 2.281, 2.040) make
   * the whole walk exact-replayable.
   *
   * z closes from four cumulative integer cells per (key, look) in
   * ONE pinned IEEE chain — `(p̂₁−p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂))` with
   * pooled p̂ — so an ANSI oracle replays every decision. Looks where
   * either arm is empty or the pooled rate is degenerate (0 or 1)
   * carry a null z and never decide.
   *
   * Output: one row per key — (keys…, look, n_treat, conv_treat,
   * n_ctrl, conv_ctrl, z, boundary, decision) at the earliest
   * crossing look (decision `reject_up`/`reject_down` by the sign of
   * z), or at the final look with a null decision when no boundary
   * was crossed.
   *
   * Scale posture: one key exchange carries the rank window (look
   * assignment), the cells collapse MAP-SIDE to |keys|·K·2 rows, and
   * every later step (cumulative looks, z, boundary pick) is
   * grid-sized. Rows cross the wire once.
   */
  def groupSequential(df: DataFrame, keys: Seq[String], tsCol: String,
                      tieCol: String, variantCol: String,
                      outcomeCol: String, boundaries: Seq[Double])
  : DataFrame = {
    require(keys.nonEmpty, "groupSequential needs key columns")
    require(boundaries.nonEmpty && boundaries.forall(_ > 0),
      "boundaries must be positive critical values, one per look")
    import org.apache.spark.sql.expressions.Window
    val k = boundaries.length
    def lit9(x: Double): Column =
      lit(BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal)
    val v = col(variantCol).cast("boolean")
    val y = col(outcomeCol).cast("boolean")
    val wk = Window.partitionBy(keys.map(col): _*)
    val wOrd = wk.orderBy(col(tsCol), col(tieCol))
    // look = floor((rank-1)*K/n) + 1: K near-equal blocks. The double
    // division is exact-replayable: (rank-1)*K is an exact integer in
    // double range and both engines floor the same correctly-rounded
    // quotient.
    val ranked = df
      // tieCol non-null: see msprt — keeps the total order
      // engine-independent (Spark NULLS FIRST vs ANSI NULLS LAST)
      .filter(col(tsCol).isNotNull && col(tieCol).isNotNull &&
        v.isNotNull && y.isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__rk", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(wk))
      .withColumn("__look",
        (floor(((col("__rk") - 1) * lit(k.toLong)).cast("double") /
          col("__n").cast("double")) + 1L).cast("int"))
    val cells = ranked.groupBy(keys.map(col) :+ col("__look"): _*)
      .agg(sum(when(v, 1L).otherwise(0L)).as("__nti"),
        sum(when(v && y, 1L).otherwise(0L)).as("__cti"),
        sum(when(!v, 1L).otherwise(0L)).as("__nci"),
        sum(when(!v && y, 1L).otherwise(0L)).as("__cci"))
    val wc = wk.orderBy(col("__look"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells
      .withColumn("n_treat", sum(col("__nti")).over(wc))
      .withColumn("conv_treat", sum(col("__cti")).over(wc))
      .withColumn("n_ctrl", sum(col("__nci")).over(wc))
      .withColumn("conv_ctrl", sum(col("__cci")).over(wc))
    val nt = d(col("n_treat")); val ct = d(col("conv_treat"))
    val nc = d(col("n_ctrl")); val cc = d(col("conv_ctrl"))
    val pp = (ct + cc) / (nt + nc)
    val z = (ct / nt - cc / nc) /
      sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / nt + lit(1.0) / nc))
    val bnd = boundaries.zipWithIndex.tail.foldLeft(
      lit9(boundaries.head)) { case (acc, (b, i)) =>
      when(col("__look") === i + 1, lit9(b)).otherwise(acc)
    }.cast("double")
    val judged = cum
      .withColumn("z", when(col("n_treat") > 0L && col("n_ctrl") > 0L &&
        pp > 0.0 && pp < 1.0, z))
      .withColumn("boundary", bnd)
      .withColumn("__dec", col("z").isNotNull &&
        abs(col("z")) >= col("boundary"))
    val pick = judged
      .withColumn("__pr", row_number().over(wk.orderBy(
        when(col("__dec"), 0L).otherwise(1L).asc,
        when(col("__dec"), col("__look").cast("long"))
          .otherwise(-col("__look").cast("long")).asc)))
      .filter(col("__pr") === 1)
    pick.select(keys.map(col) ++ Seq(
      col("__look").as("look"), col("n_treat"), col("conv_treat"),
      col("n_ctrl"), col("conv_ctrl"), col("z"), col("boundary"),
      when(col("__dec"),
        when(col("z") > 0.0, lit("reject_up")).otherwise(lit("reject_down")))
        .as("decision")): _*)
  }

  /**
   * Deterministic Poisson-bootstrap confidence interval for the mean,
   * per group: `b` resamples where every row's weight in resample i
   * is a Poisson(1)-distributed count DERIVED FROM A HASH of
   * (row id, i) — the classic scale-out bootstrap (each row decides
   * its own resample multiplicities locally, no sampling pass), made
   * REPLAYABLE: no RNG anywhere, so the same data always yields the
   * same interval and an ANSI oracle reproduces it bit-for-bit.
   *
   * Weights: h = md5₃₂(id:i)/2³², mapped through the Poisson(1) CDF
   * rounded to the 10⁻⁹ grid (literals; counts capped at 7, cumulative
   * mass ~1−10⁻⁵). Each resample's mean is `Σ w·x / Σ w` in exact
   * integer units with one pinned closing; the CI bounds are ORDER
   * STATISTICS of the resample means (ranks ⌈q·B⌉ where B is the
   * SURVIVING resample count per key — a resample whose hash weights
   * are all zero, P = e⁻ⁿ each, contributes no mean — no
   * interpolation, no float ambiguity).
   *
   * Output: (keys…, n, mean, ci_lo, ci_hi).
   *
   * Scale posture: the corpus explodes ×b but collapses MAP-SIDE to
   * (keys, resample) — the shuffle carries |keys|·b moment rows, and
   * everything after is grid-sized. The point estimate rides the same
   * value-grid collapse. b is the caller's cost dial.
   */
  def bootstrapMeanCi(df: DataFrame, keys: Seq[String], idCol: String,
                      valueCol: String, b: Int = 200, loQ: Double = 0.025,
                      hiQ: Double = 0.975, valueScale: Int = 2)
  : DataFrame = {
    require(b >= 20, s"need at least 20 resamples, got $b")
    require(loQ > 0 && hiQ < 1 && loQ < hiQ, "need 0 < loQ < hiQ < 1")
    require(keys.nonEmpty, "bootstrapMeanCi needs key columns")
    import org.apache.spark.sql.expressions.Window
    // Poisson(1) CDF on the 1e-9 grid; counts capped at 7 (cumulative
    // mass ~1−1e-5); exact-decimal accumulation so the oracle's
    // identical literal generation cannot diverge in the 9th digit
    val cdf = {
      var p = math.exp(-1.0); var cum = BigDecimal(0)
      (0 to 6).map { k =>
        cum += BigDecimal(p); p = p / (k + 1.0)
        cum.setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    val vc = unscaled(col(valueCol), valueScale)
    // the ×b explode + per-row md5 below run over THIS relation's
    // partitioning; a single-row-group input would pin them to one task —
    // spread before the checkpoint (guide §2.5; no-op on split inputs)
    val base = graft.core.Par.spread(
      df.filter(col(valueCol).isNotNull &&
          col(idCol).isNotNull &&
          keys.map(col(_).isNotNull).reduce(_ && _))
        .select(keys.map(col) :+ col(idCol).cast("string").as("__id") :+
          vc.as("__v"): _*))
      .localCheckpoint(false)
    val point = base.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        (sum(col("__v").cast("decimal(38,0)")).cast("double") /
          count(lit(1)).cast("double") /
          lit(math.pow(10, valueScale))).as("mean"))
    val h = graft.llm.TextAnalysis.md5i(
      concat(col("__id"), lit(":"), col("__b").cast("string")))
      .cast("double") / lit(4294967296.0)
    val w = cdf.zipWithIndex.foldRight(lit(7L)) { case ((t, k), other) =>
      when(h < lit(t), k.toLong).otherwise(other)
    }
    val means = base
      .withColumn("__b", explode(sequence(lit(1), lit(b))))
      .withColumn("__w", w)
      .groupBy(keys.map(col) :+ col("__b"): _*)
      .agg(sum((col("__v") * col("__w")).cast("decimal(38,0)")).as("__vw"),
        sum(col("__w")).as("__ws"))
      .withColumn("__m",
        when(col("__ws") > 0L, col("__vw").cast("double") /
          col("__ws").cast("double") / lit(math.pow(10, valueScale))))
      .filter(col("__m").isNotNull)
    val wr = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__m").asc, col("__b").asc)
    // Order-statistic ranks against the SURVIVING resample count per
    // key, not b: a resample whose weights are all zero (P = e⁻ⁿ per
    // resample — real for tiny groups) is filtered above, and ranks
    // pinned at ⌈q·b⌉ would then sit past the end (null ci_hi) and
    // mis-position ci_lo. ceil on the same double product keeps the
    // rank choice IEEE-replayable.
    val wk2 = Window.partitionBy(keys.map(col): _*)
    val ci = means.withColumn("__r", row_number().over(wr))
      .withColumn("__cnt", count(lit(1)).over(wk2))
      .groupBy(keys.map(col): _*)
      .agg(min(when(col("__r") ===
          ceil(lit(loQ) * col("__cnt")).cast("long"), col("__m")))
          .as("ci_lo"),
        min(when(col("__r") ===
          ceil(lit(hiQ) * col("__cnt")).cast("long"), col("__m")))
          .as("ci_hi"))
    point.join(ci, keys)
      .select(keys.map(col) ++ Seq(col("n"), col("mean"),
        col("ci_lo"), col("ci_hi")): _*)
  }

  /**
   * CUPED-adjusted variant means per experiment:
   * `Y' = Ȳᵥ − θ·(X̄ᵥ − X̄)` with `θ = cov(X,Y)/var(X)` estimated on
   * the POOLED experiment — the industry-standard variance-reduction
   * for A/B metrics (a pre-period covariate soaks up between-user
   * noise, shrinking the CI without biasing the contrast).
   *
   * Engine-exact: metric and covariate snap to the 10⁻ˢᶜᵃˡᵉ grid; θ
   * closes from five exact decimal moments in ONE pinned chain
   * (`(nΣxy − ΣxΣy)/(nΣx² − (Σx)²)`, the [[linearFit]] discipline);
   * per-variant adjustments are two pinned divisions and a fused
   * subtract. Zero covariate variance → θ null, adjusted = raw mean.
   *
   * Output: (keys…, variant, n, mean, adjusted_mean, theta).
   *
   * Scale posture: one map-side (keys, variant) moment collapse; the
   * pooled moments REUSE it (a second grid-sized aggregation, not a
   * second corpus pass); key-keyed join back, no broadcast hint.
   */
  def cuped(df: DataFrame, keys: Seq[String], variantCol: String,
            metricCol: String, covariateCol: String,
            valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "cuped needs experiment key columns")
    val y = col(metricCol).cast(s"decimal(18,$valueScale)")
    val x = col(covariateCol).cast(s"decimal(18,$valueScale)")
    val perVariant = df
      .filter(col(metricCol).isNotNull && col(covariateCol).isNotNull &&
        col(variantCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__y", y).withColumn("__x", x)
      .groupBy(keys.map(col) :+ col(variantCol).as("variant"): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__y")).as("__sy"), sum(col("__x")).as("__sx"),
        sum((col("__x") * col("__y")).cast("decimal(38,6)")).as("__sxy"),
        sum((col("__x") * col("__x")).cast("decimal(38,6)")).as("__sxx"))
      .localCheckpoint(false)
    val pooled = perVariant.groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("__np"),
        sum(col("__sy")).cast("double").as("__syp"),
        sum(col("__sx")).cast("double").as("__sxp"),
        sum(col("__sxy")).cast("double").as("__sxyp"),
        sum(col("__sxx")).cast("double").as("__sxxp"))
    val np = col("__np").cast("double")
    val varX = np * col("__sxxp") - col("__sxp") * col("__sxp")
    val theta = when(varX > 0.0,
      (np * col("__sxyp") - col("__sxp") * col("__syp")) / varX)
    val withTheta = pooled.select(keys.map(col) :+
      theta.as("theta") :+ (col("__sxp") / np).as("__xbar"): _*)
    perVariant.join(withTheta, keys)
      .select(keys.map(col) ++ Seq(col("variant"), col("n"),
        (col("__sy").cast("double") / col("n").cast("double")).as("mean"),
        when(col("theta").isNotNull,
          col("__sy").cast("double") / col("n").cast("double") -
            col("theta") * (col("__sx").cast("double") /
              col("n").cast("double") - col("__xbar")))
          .otherwise(col("__sy").cast("double") / col("n").cast("double"))
          .as("adjusted_mean"),
        col("theta")): _*)
  }

  /**
   * Difference-in-differences estimator per key: the 2×2 contrast
   * `DiD = (Ȳ_treated,post − Ȳ_treated,pre) − (Ȳ_control,post −
   * Ȳ_control,pre)` — the causal workhorse when treatment wasn't
   * randomized but both groups share a pre-period trend.
   *
   * Engine-exact: one map-side (keys, treated, post) collapse of
   * exact decimal sums; the four cell means and the double difference
   * close in a pinned IEEE chain. A key missing any of the four cells
   * emits a null estimate (the contrast is undefined).
   *
   * Output: (keys…, n, mean_c_pre, mean_c_post, mean_t_pre,
   * mean_t_post, did).
   */
  def diffInDiff(df: DataFrame, keys: Seq[String], treatedCol: String,
                 postCol: String, valueCol: String,
                 valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "diffInDiff needs key columns")
    val v = col(valueCol).cast(s"decimal(18,$valueScale)")
    val cells = df
      .filter(col(valueCol).isNotNull && col(treatedCol).isNotNull &&
        col(postCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ col(treatedCol).cast("boolean").as("__t")
        :+ col(postCol).cast("boolean").as("__p"): _*)
      .agg(count(lit(1)).as("__n"), sum(v).as("__s"))
    def cell(t: Boolean, p: Boolean): Column =
      min(when(col("__t") === t && col("__p") === p,
        col("__s").cast("double") / col("__n").cast("double")))
    val agg = cells.groupBy(keys.map(col): _*)
      .agg(sum(col("__n")).as("n"),
        cell(t = false, p = false).as("mean_c_pre"),
        cell(t = false, p = true).as("mean_c_post"),
        cell(t = true, p = false).as("mean_t_pre"),
        cell(t = true, p = true).as("mean_t_post"))
    agg.withColumn("did",
      (col("mean_t_post") - col("mean_t_pre")) -
        (col("mean_c_post") - col("mean_c_pre")))
  }

  /**
   * Binary classification report per group: the confusion matrix and
   * its standard readouts — precision, recall, F1, accuracy — from
   * exact integer cell counts with pinned closings. The eval
   * primitive behind every quality-classifier dashboard.
   *
   * Output: (keys…, tp, fp, fn, tn, precision, recall, f1, accuracy);
   * undefined ratios (empty denominators) are null, F1 is null when
   * precision+recall is 0.
   *
   * Scale posture: ONE map-side-combined aggregation.
   */
  def classificationReport(df: DataFrame, keys: Seq[String],
                           labelCol: String, predCol: String): DataFrame = {
    require(keys.nonEmpty, "classificationReport needs key columns")
    val y = col(labelCol).cast("boolean")
    val p = col(predCol).cast("boolean")
    val m = df.filter(y.isNotNull && p.isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(sum(when(y && p, 1L).otherwise(0L)).as("tp"),
        sum(when(!y && p, 1L).otherwise(0L)).as("fp"),
        sum(when(y && !p, 1L).otherwise(0L)).as("fn"),
        sum(when(!y && !p, 1L).otherwise(0L)).as("tn"))
    val prec = when(col("tp") + col("fp") > 0,
      col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
    val rec = when(col("tp") + col("fn") > 0,
      col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
    m.withColumn("precision", prec)
      .withColumn("recall", rec)
      .withColumn("f1",
        when(col("precision").isNotNull && col("recall").isNotNull &&
          col("precision") + col("recall") > 0.0,
          lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))
      .withColumn("accuracy",
        (col("tp") + col("tn")).cast("double") /
          (col("tp") + col("fp") + col("fn") + col("tn")).cast("double"))
  }

  /**
   * Odds ratio and relative risk per group, with the Wald 95% CI for
   * ln(OR): from the 2×2 (exposed × outcome) cell counts,
   * `OR = (a·d)/(b·c)`, `RR = (a/(a+b)) / (c/(c+d))`,
   * `se = √(1/a + 1/b + 1/c + 1/d)`, CI = ln(OR) ± 1.96·se — the
   * epidemiology/feature-risk primitive ("how much likelier is the
   * outcome when exposed").
   *
   * Engine-exact: integer cells; `ln(OR)` is the libm-consistent log
   * rounded to the 10⁻⁹ grid (the Kaplan-Meier discipline), the CI
   * closes in a pinned chain. Any zero cell nulls OR/CI (add a
   * continuity correction upstream if you need one — this operator
   * reports, it does not smooth).
   *
   * Output: (keys…, a, b, c, d, odds_ratio, relative_risk, log_or,
   * ci_lo, ci_hi).
   */
  def oddsRatio(df: DataFrame, keys: Seq[String], exposedCol: String,
                outcomeCol: String): DataFrame = {
    require(keys.nonEmpty, "oddsRatio needs key columns")
    val e = col(exposedCol).cast("boolean")
    val y = col(outcomeCol).cast("boolean")
    val m = df.filter(e.isNotNull && y.isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(sum(when(e && y, 1L).otherwise(0L)).as("a"),
        sum(when(e && !y, 1L).otherwise(0L)).as("b"),
        sum(when(!e && y, 1L).otherwise(0L)).as("c"),
        sum(when(!e && !y, 1L).otherwise(0L)).as("d"))
    val ok = col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0
    val or = (col("a").cast("double") * col("d").cast("double")) /
      (col("b").cast("double") * col("c").cast("double"))
    val rr = (col("a").cast("double") /
        (col("a") + col("b")).cast("double")) /
      (col("c").cast("double") / (col("c") + col("d")).cast("double"))
    val logOr = round(graft.functions.MathFunctions.libmLog(or), 9)
    val se = sqrt(lit(1.0) / col("a").cast("double") +
      lit(1.0) / col("b").cast("double") +
      lit(1.0) / col("c").cast("double") +
      lit(1.0) / col("d").cast("double"))
    m.select(keys.map(col) ++ Seq(col("a"), col("b"), col("c"), col("d"),
      when(ok, or).as("odds_ratio"),
      when(col("a") + col("b") > 0 && col("c") > 0, rr)
        .as("relative_risk"),
      when(ok, logOr).as("log_or"),
      when(ok, logOr - lit(1.96) * se).as("ci_lo"),
      when(ok, logOr + lit(1.96) * se).as("ci_hi")): _*)
  }

  /**
   * Cumulative gains / lift table per group: rows ranked by score
   * descending are cut into `buckets` equal-frequency bins (bucket
   * `b` = ranks `(b−1)·n/k < r ≤ b·n/k`, the exact integer cut
   * `⌊(r−1)·k/n⌋ + 1` — no ntile, whose Spark/SQL remainder
   * placement conventions differ), and each bin reports its positive
   * count, the cumulative capture rate (`gain` = fraction of ALL
   * positives found in the top b bins) and `lift` = gain ÷ fraction
   * of rows examined — the targeting-model report ("the top decile
   * captures 3.2× its share"). The rank order is made TOTAL by the
   * required unique `idCol` tie-break (the q207 discipline: equal
   * scores straddling a bucket boundary would otherwise land
   * nondeterministically), so the table is engine-identical.
   *
   * Everything is integer until the closing divisions: counts and
   * cumulative counts are exact longs; `gain`/`lift` are single
   * pinned double divisions over them.
   *
   * Output: (keys…, bucket, n, pos, cum_n, cum_pos, gain, lift);
   * groups with zero positives emit null gain/lift.
   *
   * Scale posture: ONE exchange on the group keys serves the rank
   * window; the per-bucket collapse then rides the same partitioning
   * (keys ⊂ keys+bucket), as does the cumulative window and closing —
   * Catalyst reuses the partitioning end to end.
   */
  def liftTable(df: DataFrame, keys: Seq[String], scoreCol: String,
                labelCol: String, idCol: String,
                buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val y = col(labelCol).cast("boolean")
    val wk = Window.partitionBy(keys.map(col): _*)
    val ranked = df
      .filter(col(scoreCol).isNotNull && y.isNotNull)
      .withColumn("__r", row_number().over(
        wk.orderBy(col(scoreCol).desc, col(idCol).asc)))
      .withColumn("__n", count(lit(1)).over(wk))
    // exact equal-frequency cut: ⌊(r−1)·k/n⌋ + 1 (first buckets get
    // the remainder rows — the convention both engines replay exactly)
    val num = (col("__r") - 1L) * lit(buckets.toLong)
    val bucket = ((num - pmod(num, col("__n"))) / col("__n"))
      .cast("long") + 1L
    val byBucket = ranked
      .groupBy(keys.map(col) :+ bucket.as("bucket"): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(y, 1L).otherwise(0L)).as("pos"))
    val wc = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("bucket"))
    val cum = byBucket
      .withColumn("cum_n", sum(col("n")).over(wc))
      .withColumn("cum_pos", sum(col("pos")).over(wc))
      .withColumn("__tot_n", sum(col("n")).over(wk))
      .withColumn("__tot_pos", sum(col("pos")).over(wk))
    val gain = d(col("cum_pos")) / d(col("__tot_pos"))
    val frac = d(col("cum_n")) / d(col("__tot_n"))
    cum.select(keys.map(col) ++ Seq(col("bucket"), col("n"), col("pos"),
      col("cum_n"), col("cum_pos"),
      when(col("__tot_pos") > 0, gain).as("gain"),
      when(col("__tot_pos") > 0, gain / frac).as("lift")): _*)
  }

  /**
   * Cramér's V association between two categorical columns per group:
   * `V = sqrt(χ² / (n·(min(r,c)−1)))` — the [0,1]-normalized effect
   * size the raw χ² statistic isn't (χ² grows with n; V answers "how
   * strongly related", comparable across tables). [[mutualInfo]]'s
   * frequentist sibling.
   *
   * The table is the [[contingencyFold]] grid (exact integer cells
   * over the full level grid; rows with a null key drop), and the χ²
   * closing — the only IEEE arithmetic — folds the per-cell terms
   * `(o − e)²/e` in SORTED (a, b) cell order (the
   * [[graft.quality.Quality.benfordDrift]] fold discipline), so the
   * double sum is order-pinned and engine-identical.
   *
   * Output: (keys…, n, r, c, chisq, v); degenerate groups (a single
   * row/column level) emit null v — no association is measurable.
   *
   * Scale posture: ONE full-data pass (map-side-combined cell
   * collapse); everything downstream runs on the cell relation
   * (|keys|·r·c rows). Margin joins are key-equi on that relation.
   */
  def cramersV(df: DataFrame, keys: Seq[String], aCol: String,
               bCol: String): DataFrame = {
    // structural-zero cells carry χ² mass ((0−e)²/e) that
    // observed-cells-only formulations silently drop
    val folded = contingencyFold(df, keys, aCol, bCol, (o, e) => {
      val diff = d(o) - e
      diff * diff / e
    })
    val k = least(col("r"), col("c")) - lit(1L)
    folded.select(keys.map(col) ++ Seq(col("n"), col("r"), col("c"),
      col("__s").as("chisq"),
      when(col("n") > 0 && k > 0,
        sqrt(col("__s") / (d(col("n")) * d(k)))).as("v")): _*)
  }

  /**
   * Exact decision-stump split per group: the threshold on a numeric
   * feature that maximizes GINI impurity reduction against a binary
   * label — the distributed, exact form of the split search inside
   * every tree learner, useful standalone for feature triage ("how
   * much signal does this column carry, and where?").
   *
   * Gini (1 − p² − q²), not entropy, ON PURPOSE: the whole closing is
   * +,−,×,÷ over exact integer counts — no transcendentals, so the
   * per-candidate gain is bit-identical on any engine. Rows collapse
   * map-side to the (keys, value) grid (values tie on the
   * `featureScale` decimal grid); ONE group exchange carries the
   * cumulative class counts, the per-candidate gain, the running max
   * and the closing aggregate. Gain ties break to the SMALLEST
   * threshold via exact double equality against the group max — the
   * deterministic pick (both sides computed by the same pinned chain).
   *
   * Split semantics: left = rows with value ≤ threshold; candidates
   * are all grid values except the last (an empty side is not a
   * split). Groups with < 2 distinct values or a single class emit
   * null threshold/gain (nothing to split / nothing to gain —
   * gain would be 0 everywhere and "best" would be noise).
   *
   * Output: (keys…, n, n_pos, best_threshold, best_gain).
   */
  def bestSplit(df: DataFrame, keys: Seq[String], featureCol: String,
                labelCol: String, featureScale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(featureCol).cast(s"decimal(18,$featureScale)")
    val y = col(labelCol).cast("boolean")
    val grid = df
      .filter(col(featureCol).isNotNull && y.isNotNull)
      .groupBy(keys.map(col) :+ v.as("__v"): _*)
      .agg(count(lit(1)).as("__c"),
        sum(when(y, 1L).otherwise(0L)).as("__p"))
    val wk = Window.partitionBy(keys.map(col): _*)
    val wo = wk.orderBy(col("__v"))
    val cum = grid
      .withColumn("__cn", sum(col("__c")).over(wo))
      .withColumn("__cp", sum(col("__p")).over(wo))
      .withColumn("__n", sum(col("__c")).over(wk))
      .withColumn("__np", sum(col("__p")).over(wk))
    def gini(pos: Column, tot: Column): Column = {
      val p = d(pos) / d(tot)
      lit(1.0) - p * p - (lit(1.0) - p) * (lit(1.0) - p)
    }
    val nL = col("__cn"); val nR = col("__n") - col("__cn")
    val parent = gini(col("__np"), col("__n"))
    val weighted = d(nL) / d(col("__n")) * gini(col("__cp"), nL) +
      d(nR) / d(col("__n")) *
        gini(col("__np") - col("__cp"), nR)
    val cand = cum
      .withColumn("__gain",
        when(nR > 0, parent - weighted))
      .withColumn("__gmax", max(col("__gain")).over(wk))
    val ok = col("n") > 0 && col("n_pos") > 0 && col("n_pos") < col("n") &&
      col("best_gain").isNotNull
    cand
      .groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("n"), max(col("__np")).as("n_pos"),
        max(col("__gmax")).as("best_gain"),
        min(when(col("__gain") === col("__gmax"), col("__v")))
          .cast("double").as("best_threshold"))
      .select(keys.map(col) ++ Seq(col("n"), col("n_pos"),
        when(ok, col("best_threshold")).as("best_threshold"),
        when(ok, col("best_gain")).as("best_gain")): _*)
  }

  /**
   * Target-leakage / association scan: [[cramersV]] of EVERY
   * candidate feature against the label in ONE corpus pass — the
   * pre-training triage that catches leaky features (V ≈ 1: the
   * column is the label in disguise — an id-joined outcome, a
   * post-event timestamp) and dead ones (V ≈ 0) before a model does.
   *
   * Features melt to (feature, value) rows via a single `stack`
   * generator — one scan regardless of feature count, not a
   * scan-per-feature union — and the whole Cramér's V machinery runs
   * keyed by the feature name, so every feature's contingency
   * collapse, margin grid and χ² fold shares the same exchanges.
   *
   * Values compare as STRINGS: pre-format continuous columns onto a
   * decimal grid first (raw doubles' string forms are
   * engine-specific, and raw continuous features aren't meaningful
   * χ² categories anyway).
   *
   * Output: one row per feature — (feature, n, r, c, chisq, v),
   * ranked by `v` descending being the caller's usual next step.
   */
  def leakageScan(df: DataFrame, featureCols: Seq[String],
                  labelCol: String): DataFrame = {
    require(featureCols.nonEmpty, "leakageScan needs feature columns")
    val melted = graft.ops.Transforms.melt(df, Seq(labelCol), featureCols,
      varName = "feature", valueName = "__fv", valueType = "string")
    cramersV(melted, Seq("feature"), "__fv", labelCol)
  }

  /**
   * Two-feature RIDGE regression per group, solved in closed form
   * from exact decimal moments — the scalable shape for "fit a small
   * model per group over a huge table": the whole fit is ONE
   * map-side-combined aggregation to nine moments per group, then a
   * pinned Cramer's-rule chain; no iterative solver, no per-row
   * residual pass, nothing driver-side. (General p-feature fits
   * aggregate p² moments the same way and solve the p×p system per
   * GROUP ROW downstream; p = 2 keeps the solve an engine-exact
   * closed form.)
   *
   * Estimator: minimizes `Σ(y − b₀ − b₁x₁ − b₂x₂)² + λ·n·(b₁² + b₂²)`
   * — the intercept unpenalized (standard), the penalty scaled by n
   * so λ means the same thing at any group size. On the n-scaled
   * centered moments `Cᵢⱼ = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ` the normal equations
   * become `(C + λn²·I)·b = Cy` (the n² because C is n² × covariance),
   * and Cramer closes it.
   *
   * Engine-exact: inputs snap to their decimal scales, first moments
   * are exact decimals, second moments snap to INTEGERS before their
   * one double cast (the q267 2⁵³-units discipline — second moments
   * in grid units² dwarf any coefficient's precision needs), and the
   * closing chain is pinned IEEE in a fixed order. Groups with
   * `n < 3` or a non-positive determinant emit null coefficients.
   *
   * Output: (keys…, n, b0, b1, b2).
   *
   * Scale posture: ONE aggregation; closing on |groups| rows.
   */
  def ridgeFit2(df: DataFrame, keys: Seq[String], yCol: String,
                x1Col: String, x2Col: String, lambda: Double,
                yScale: Int = 2, x1Scale: Int = 2, x2Scale: Int = 2)
  : DataFrame = {
    require(lambda >= 0, s"lambda must be >= 0, got $lambda")
    val y = col(yCol).cast(s"decimal(18,$yScale)")
    val x1 = col(x1Col).cast(s"decimal(18,$x1Scale)")
    val x2 = col(x2Col).cast(s"decimal(18,$x2Scale)")
    def mom(a: Column, b: Column): Column =
      sum((a * b).cast("decimal(38,6)"))
    val m = df.filter(col(yCol).isNotNull && col(x1Col).isNotNull &&
        col(x2Col).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(x1).as("__s1"), sum(x2).as("__s2"), sum(y).as("__sy"),
        mom(x1, x1).as("__s11"), mom(x2, x2).as("__s22"),
        mom(x1, x2).as("__s12"), mom(x1, y).as("__s1y"),
        mom(x2, y).as("__s2y"))
    // integer snap before the one double cast (q267 discipline)
    def snap(c: String): Column = truncated(col(c), 0)
    val n = d(col("n"))
    val s1 = d(col("__s1")); val s2 = d(col("__s2")); val sy = d(col("__sy"))
    val s11 = snap("__s11"); val s22 = snap("__s22")
    val s12 = snap("__s12")
    val s1y = snap("__s1y"); val s2y = snap("__s2y")
    val c11 = n * s11 - s1 * s1
    val c22 = n * s22 - s2 * s2
    val c12 = n * s12 - s1 * s2
    val c1y = n * s1y - s1 * sy
    val c2y = n * s2y - s2 * sy
    val a11 = c11 + lit(lambda) * n * n
    val a22 = c22 + lit(lambda) * n * n
    val det = a11 * a22 - c12 * c12
    val b1 = (c1y * a22 - c2y * c12) / det
    val b2 = (a11 * c2y - c12 * c1y) / det
    val b0 = (sy - b1 * s1 - b2 * s2) / n
    val ok = col("n") >= 3 && det > 0.0
    m.select(keys.map(col) ++ Seq(col("n"),
      when(ok, b0).as("b0"), when(ok, b1).as("b1"),
      when(ok, b2).as("b2")): _*)
  }

  /**
   * Closed-form 2-variable PCA per group: eigenvalues and first
   * principal direction of the sample covariance of (x₁, x₂) — the
   * 2×2 case has an exact algebraic eigendecomposition
   * (`λ = tr/2 ± √((Δ/2)² + c₁₂²)`), so the whole analysis is the
   * same one-aggregation-plus-pinned-chain shape as [[ridgeFit2]]:
   * nothing iterative, nothing driver-side, engine-identical bits.
   *
   * The chain runs on the n-scaled centered moments
   * `Cᵢⱼ = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ` and divides eigenvalues by `n(n−1)` at
   * the end (C = n(n−1) × sample covariance). The first eigenvector
   * is `(c₁₂, λ₁ − C₁₁)` normalized — except when `c₁₂ = 0` (already
   * axis-aligned), where it is (1,0) or (0,1) by whichever variance
   * dominates (ties → (1,0)). Sign convention: v₁ ≥ 0, and at
   * v₁ = 0, v₂ = 1 — one orientation, every engine.
   *
   * Output: (keys…, n, lambda1, lambda2, var_explained, v1, v2);
   * groups with n < 2 emit nulls.
   *
   * Scale posture: ONE map-side-combined aggregation to six moments;
   * closing on |groups| rows.
   */
  def pca2(df: DataFrame, keys: Seq[String], x1Col: String, x2Col: String,
           x1Scale: Int = 2, x2Scale: Int = 2): DataFrame = {
    val x1 = col(x1Col).cast(s"decimal(18,$x1Scale)")
    val x2 = col(x2Col).cast(s"decimal(18,$x2Scale)")
    def mom(a: Column, b: Column): Column =
      sum((a * b).cast("decimal(38,6)"))
    val m = df.filter(col(x1Col).isNotNull && col(x2Col).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(x1).as("__s1"), sum(x2).as("__s2"),
        mom(x1, x1).as("__s11"), mom(x2, x2).as("__s22"),
        mom(x1, x2).as("__s12"))
    def snap(c: String): Column = truncated(col(c), 0)
    val n = d(col("n"))
    val s1 = d(col("__s1")); val s2 = d(col("__s2"))
    val s11 = snap("__s11"); val s22 = snap("__s22")
    val s12 = snap("__s12")
    val c11 = n * s11 - s1 * s1
    val c22 = n * s22 - s2 * s2
    val c12 = n * s12 - s1 * s2
    val half = (c11 - c22) / lit(2.0)
    val root = sqrt(half * half + c12 * c12)
    val mid = (c11 + c22) / lit(2.0)
    val l1 = mid + root
    val l2 = mid - root
    val denom = n * (n - lit(1.0))
    // eigenvector for λ₁; axis-aligned groups pick the dominant axis
    val ev1 = when(c12 =!= 0.0, c12)
      .otherwise(when(c11 >= c22, lit(1.0)).otherwise(lit(0.0)))
    val ev2 = when(c12 =!= 0.0, l1 - c11)
      .otherwise(when(c11 >= c22, lit(0.0)).otherwise(lit(1.0)))
    val norm = sqrt(ev1 * ev1 + ev2 * ev2)
    // orient: v1 > 0, or v1 == 0 → v2 = +1
    val flip = when(ev1 < 0.0 || (ev1 === 0.0 && ev2 < 0.0), lit(-1.0))
      .otherwise(lit(1.0))
    val ok = col("n") >= 2
    val tot = l1 + l2
    m.select(keys.map(col) ++ Seq(col("n"),
      when(ok, l1 / denom).as("lambda1"),
      when(ok, l2 / denom).as("lambda2"),
      when(ok && tot > 0.0, l1 / tot).as("var_explained"),
      when(ok, flip * ev1 / norm).as("v1"),
      when(ok, flip * ev2 / norm).as("v2")): _*)
  }

  /**
   * Robust per-row outlier scores: `(x − median) / (1.4826·MAD)` per
   * key, where MAD is the median absolute deviation — the
   * outlier-detection workhorse that, unlike a z-score, one wild
   * point cannot poison (mean AND stddev both break down at a single
   * outlier; median and MAD have a 50% breakdown point). 1.4826 is
   * the standard normal-consistency constant (a pinned literal, the
   * same double in any engine).
   *
   * Medians are EXACT LOWER MEDIANS on the value's decimal grid (the
   * weightedMedian convention: smallest v with 2·cum ≥ n), computed
   * from per-key VALUE-GRID collapses — never a per-row sort
   * statistic. Keys whose MAD is 0 (≥ half the values identical)
   * emit a null score: the honest answer, not ±∞. Rows with a null
   * value OR a null key are EXCLUDED (the grid joins back on key
   * equality, so a null key has no group to score against).
   *
   * Output: input columns + `median`, `mad`, `score` (doubles).
   *
   * Scale posture: two value-grid collapses (each map-side combined,
   * |key × distinct value| rows) + two grid joins back KEYED ON THE
   * GROUP KEYS — AQE broadcasts them when the key space is small and
   * shuffles key-aligned when it is not (per-user medians at 100 TB
   * are a grid too big to broadcast; never hint it).
   */
  def robustZScores(df: DataFrame, keys: Seq[String], valueCol: String,
                    valueScale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keys.nonEmpty, "robustZScores needs key columns")
    val v = col(valueCol).cast(s"decimal(18,$valueScale)")
    def lowerMedian(in: DataFrame, c: Column, out: String): DataFrame = {
      val wk = Window.partitionBy(keys.map(col): _*)
      in.groupBy(keys.map(col) :+ c.as("__v"): _*)
        .agg(count(lit(1)).as("__c"))
        .withColumn("__cum", sum(col("__c")).over(wk.orderBy(col("__v"))))
        .withColumn("__tot", sum(col("__c")).over(wk))
        .filter(lit(2L) * col("__cum") >= col("__tot"))
        .groupBy(keys.map(col): _*)
        .agg(min(col("__v")).as(out))
    }
    val base = df.filter(col(valueCol).isNotNull &&
      keys.map(col(_).isNotNull).reduce(_ && _))
    val med = lowerMedian(base, v, "__med")
    val withMed = base.join(med, keys)
    val mad = lowerMedian(withMed, abs(v - col("__med")), "__mad")
    withMed.join(mad, keys)
      .withColumn("median", col("__med").cast("double"))
      .withColumn("mad", col("__mad").cast("double"))
      .withColumn("score",
        when(col("__mad") > 0,
          (v - col("__med")).cast("double") /
            (lit(1.4826) * col("__mad").cast("double"))))
      .drop("__med", "__mad")
  }

  /**
   * Durbin-Watson statistic per key: `DW = Σ(xₜ−xₜ₋₁)² / Σ(xₜ−x̄)²`
   * over the (tsCol, tieCol) total order — the classic residual-
   * autocorrelation diagnostic (≈2 = none, →0 = positive, →4 =
   * negative), here applied to the key's deviations from its own
   * mean ([[acf]]'s one-number summary; run it before trusting any
   * per-key regression's errors).
   *
   * Engine-exact: the mean CANCELS in the numerator (Δx is an exact
   * integer grid difference), so Σd² is an exact decimal; the
   * denominator closes from exact moments as `Σx² − S²/n` — one
   * pinned chain of three correctly-rounded casts. Keys with n < 2
   * or a constant series emit null.
   *
   * Output: (keys…, n, dw).
   *
   * Scale posture: one key exchange carries the lag window and the
   * moment collapse; nothing row-sized leaves it.
   */
  def durbinWatson(df: DataFrame, keys: Seq[String], tsCol: String,
                   tieCol: String, valueCol: String,
                   valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "durbinWatson needs key columns")
    import org.apache.spark.sql.expressions.Window
    val vc = unscaled(col(valueCol), valueScale)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val d = col("__vc") - lag(col("__vc"), 1).over(w)
    val agg = df
      .filter(col(tsCol).isNotNull && col(tieCol).isNotNull &&
        col(valueCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__vc", vc)
      .withColumn("__d", d)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("__vc")).as("__s"),
        sum((col("__vc") * col("__vc")).cast("decimal(38,0)"))
          .as("__ss"),
        sum((col("__d") * col("__d")).cast("decimal(38,0)"))
          .as("__sd2"))
    val nD = col("n").cast("double")
    val den = col("__ss").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") / nD
    agg.select(keys.map(col) ++ Seq(col("n"),
      when(col("n") >= 2 && den > 0.0,
        col("__sd2").cast("double") / den).as("dw")): _*)
  }

  /**
   * Autocorrelation function per key: Pearson correlation of the
   * series with itself at lags 1..`maxLag` — the seasonality /
   * memory diagnostic behind "is this series weekly?" and AR-order
   * picking. Each lag's correlation is computed over the OVERLAPPING
   * pairs `(xₜ, xₜ₋ℓ)` (the "unbiased-n" convention: n shrinks with
   * the lag), from exact decimal moments with the [[linearFit]]
   * pinned closing chain.
   *
   * acf and [[ccf]] share one lag grid: acf at lag ℓ is `ccf(x, x)`
   * at lag ℓ. Its pairs `(xₜ, xₜ₊ℓ)` are acf's `(xₜ₋ℓ, xₜ)` with the
   * two sides swapped, which the symmetric closing does not see
   * (IEEE products commute), so the two share the window pass, the
   * stack melt and the (keys, lag) collapse. Lags with under 3 pairs
   * or zero variance on either side emit null.
   *
   * Output: (keys…, lag, n, corr).
   *
   * Scale posture: one key exchange (windows), one shuffle-free melt,
   * one map-side-combined (keys, lag) collapse. Corpus crosses the
   * wire once.
   */
  def acf(df: DataFrame, keys: Seq[String], tsCol: String, tieCol: String,
          valueCol: String, maxLag: Int, valueScale: Int = 2)
  : DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    require(keys.nonEmpty, "acf needs key columns")
    val base = df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .withColumn("__x", col(valueCol).cast(s"decimal(18,$valueScale)"))
    lagGrid(base, keys, tsCol, tieCol, col("__x"), 1 to maxLag)
  }

  /**
   * Cross-correlation function per key: Pearson correlation of
   * `(xₜ, yₜ₊ℓ)` for lags ℓ in −maxLag..maxLag — "does x LEAD y"
   * (positive lags: today's x vs future y) vs "does x LAG y"
   * (negative lags), the two-series sibling of [[acf]]. Lag 0 is the
   * plain x-y correlation. Pairs where either side is null are
   * dropped; lags with under 3 pairs or zero variance emit null.
   *
   * ccf and [[acf]] share one lag grid: all shifted-y columns (lead
   * for positive lags, lag for negative) materialize in ONE window
   * pass on the (tsCol, tieCol) total order, a stack generator melts
   * them, and every lag's exact-decimal moments collapse in one
   * map-side-combined (keys, lag) aggregation, closing with one
   * correctly-rounded double cast each.
   *
   * Output: (keys…, lag, n, corr), lag ∈ [−maxLag, maxLag].
   *
   * Scale posture: one key exchange, shuffle-free melt, one grid
   * collapse — the corpus crosses the wire once. (Oracle-side
   * envelope: per-(key, lag) moment sums must stay under 2⁵³ units on
   * the 10⁻²ᵛᵃˡᵘᵉˢᶜᵃˡᵉ product grid for bit-exact SQL replay; the
   * engine cast itself is correctly rounded at any magnitude.)
   */
  def ccf(df: DataFrame, keys: Seq[String], tsCol: String, tieCol: String,
          xCol: String, yCol: String, maxLag: Int, valueScale: Int = 2)
  : DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    require(keys.nonEmpty, "ccf needs key columns")
    val base = df.filter(col(tsCol).isNotNull && col(xCol).isNotNull &&
        col(yCol).isNotNull)
      .withColumn("__x", col(xCol).cast(s"decimal(18,$valueScale)"))
      .withColumn("__y0", col(yCol).cast(s"decimal(18,$valueScale)"))
    lagGrid(base, keys, tsCol, tieCol, col("__y0"), -maxLag to maxLag)
  }

  /** [[acf]]'s and [[ccf]]'s lag grid: `y` shifted to `yₜ₊ℓ` for every
   *  ℓ in `lags` in one window pass, melted to (keys, lag, `__x`,
   *  `__y`) rows, and each (keys, lag)'s pairs closed as a Pearson r
   *  over `decimal(38,6)` products. The exact sums close with ONE
   *  correctly-rounded double cast each (BigDecimal.doubleValue); an
   *  ANSI oracle replays them as exact integer 10⁻⁴-grid units / 1e4 —
   *  bit-identical while the per-(key, lag) unit sums stay under 2⁵³
   *  (oracle-side envelope only). */
  private def lagGrid(base: DataFrame, keys: Seq[String], tsCol: String,
                      tieCol: String, y: Column, lags: Seq[Int]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    def shifted(l: Int): Column =
      if (l > 0) lead(y, l).over(w)
      else if (l < 0) lag(y, -l).over(w)
      else y
    def cn(l: Int) = if (l < 0) s"__m${-l}" else s"__p$l"
    val wide = lags.foldLeft(base)((acc, l) =>
      acc.withColumn(cn(l), shifted(l)))
    val pairs = wide.select(keys.map(col) :+
      expr(s"stack(${lags.size}, " +
        lags.map(l => s"$l, ${cn(l)}").mkString(", ") +
        ") AS (lag, __y)") :+ col("__x"): _*)
      .filter(col("__y").isNotNull)
    val m = Moments.closing()
    Moments.collapse(pairs.groupBy(keys.map(col) :+ col("lag"): _*),
        col("__x"), col("__y"), _.cast("decimal(38,6)"))
      .select(keys.map(col) ++ Seq(col("lag"), col("__n").as("n"),
        when(col("__n") >= 3 && m.vx > 0.0 && m.vy > 0.0, m.corr)
          .as("corr")): _*)
  }

  /**
   * Expected calibration error per group — [[calibration]]'s scalar:
   * `ECE = Σ_b (n_b/N) · |frac_pos_b − mean_p_b|`, the one-number
   * "how far is this model from its reliability diagonal".
   *
   * Determinism: the per-bin gap terms are pinned doubles from
   * [[calibration]]; `n_b·|gap_b|` folds SEQUENTIALLY in bin order
   * (sorted fold — a bare double SUM would be partial-aggregation-
   * order-dependent), one closing division by N.
   *
   * Output: (keys…, n, ece).
   */
  def ece(df: DataFrame, keys: Seq[String], probCol: String,
          labelCol: String, bins: Int = 10): DataFrame = {
    val cal = calibration(df, keys, probCol, labelCol, bins)
    cal.groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"),
        aggregate(sort_array(collect_list(struct(col("bin").as("b"),
            (col("n").cast("double") * abs(col("gap"))).as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("__s"))
      .select(keys.map(col) ++ Seq(col("n"),
        (col("__s") / col("n").cast("double")).as("ece")): _*)
  }

  /**
   * Partial autocorrelation function per key: the correlation of
   * `xₜ` with `xₜ₋ℓ` AFTER removing the influence of the lags in
   * between — the AR-order picker (an AR(p) series has pacf ≈ 0 past
   * lag p, while its acf tails forever). Computed from [[acf]]'s lag
   * grid via the Durbin-Levinson recursion:
   * `φ_{k,k} = (r_k − Σⱼ φ_{k−1,j} r_{k−j}) / (1 − Σⱼ φ_{k−1,j} r_j)`,
   * `φ_{k,j} = φ_{k−1,j} − φ_{k,k} φ_{k−1,k−j}`, `pacf(k) = φ_{k,k}`.
   *
   * The recursion is inherently sequential in k — so it runs as ONE
   * higher-order fold per key over the sorted lag list (state: the φ
   * vector + the r's seen so far), never a driver loop: the corpus
   * work is [[acf]]'s single window pass + grid collapse, and the
   * fold touches |keys| × maxLag rows. Every arithmetic step is a
   * left-fold of pinned IEEE ops, so an ANSI oracle replays it
   * bit-for-bit with the same fold (list_reduce).
   *
   * Lags participate only up to the first null/absent acf value (a
   * contiguous non-null prefix — nulls mean zero variance or under 3
   * pairs, where the recursion is undefined). pacf(1) = r_1. A
   * degenerate series whose acf hits ±1 exactly (perfectly
   * alternating, say) drives the recursion's denominator to 0 at the
   * next lag; the output cuts there too (null φ, rows dropped) rather
   * than emitting ±Inf/NaN.
   *
   * Output: (keys…, lag, pacf), lag 1..(non-null acf prefix).
   */
  def pacf(df: DataFrame, keys: Seq[String], tsCol: String, tieCol: String,
           valueCol: String, maxLag: Int, valueScale: Int = 2)
  : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r = acf(df, keys, tsCol, tieCol, valueCol, maxLag, valueScale)
    val wk = Window.partitionBy(keys.map(col): _*)
    val lim = r
      .withColumn("__cut",
        min(when(col("corr").isNull, col("lag"))).over(wk))
      .filter(col("corr").isNotNull &&
        (col("__cut").isNull || col("lag") < col("__cut")))
    val emptyD = array().cast("array<double>")
    val zero = struct(emptyD.as("phi"), emptyD.as("rs"), emptyD.as("pacf"))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (p, q) => p * q), lit(0.0), (s, t) => s + t)
    val folded = lim.groupBy(keys.map(col): _*)
      .agg(aggregate(
        sort_array(collect_list(struct(col("lag"), col("corr")))),
        zero,
        (st, x) => {
          val phi = st.getField("phi"); val rs = st.getField("rs")
          val num = x.getField("corr") - dot(phi, reverse(rs))
          val den = lit(1.0) - dot(phi, rs)
          // den = 0 (acf hit ±1 exactly — e.g. a perfectly
          // alternating series) leaves φ_{k,k} undefined; emit null
          // instead of ±Inf/NaN. The null enters the φ vector, so
          // every LATER lag's dot products are null too — the output
          // prefix cuts at the first degenerate lag (the same
          // contract as the null-acf prefix cut above), enforced by
          // the isNotNull filter on the exploded rows.
          val a = when(den =!= lit(0.0), num / den)
          struct(
            concat(zip_with(phi, reverse(phi), (p, q) => p - a * q),
              array(a)).as("phi"),
            concat(rs, array(x.getField("corr"))).as("rs"),
            concat(st.getField("pacf"), array(a)).as("pacf"))
        },
        st => st.getField("pacf")).as("__p"))
    folded
      .select(keys.map(col) :+ posexplode(col("__p")).as(Seq("__i", "pacf")): _*)
      .filter(col("pacf").isNotNull)
      .select(keys.map(col) ++
        Seq((col("__i") + 1).cast("int").as("lag"), col("pacf")): _*)
  }

  /**
   * Trimmed mean per group: drop the lowest and highest
   * `⌊n·trimFrac⌋` observations by value rank, mean the rest — the
   * robust location estimate between the mean (trimFrac 0) and the
   * median (→ 0.5), standard for latency/quality aggregates where a
   * few wild rows poison the mean but the median wastes data.
   *
   * Engine-exact: values snap to the 10⁻ᵛᵃˡᵘᵉˢᶜᵃˡᵉ grid and collapse
   * to the (keys, value) GRID with counts; the kept portion of each
   * value run is an integer interval intersection (ranks in
   * `(k, n−k]`), so the trimmed sum is exact integer arithmetic with
   * ONE closing division. `k = ⌊n·trimFrac⌋` floors the same double
   * product in any IEEE engine. Ties need no row-identity tie-break:
   * equal values are interchangeable under trimming by construction.
   *
   * Output: (keys…, n, n_kept, trimmed_mean).
   *
   * Scale posture: one map-side-combined grid collapse, one key
   * exchange carrying the cumulative window, one grid-sized closing
   * aggregation. Rows cross the wire once, collapsed.
   */
  def trimmedMean(df: DataFrame, keys: Seq[String], valueCol: String,
                  trimFrac: Double, valueScale: Int = 2): DataFrame = {
    require(trimFrac >= 0.0 && trimFrac < 0.5,
      s"trimFrac must be in [0, 0.5), got $trimFrac")
    require(keys.nonEmpty, "trimmedMean needs key columns")
    import org.apache.spark.sql.expressions.Window
    val vc = unscaled(col(valueCol), valueScale)
    val grid = df.filter(col(valueCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ vc.as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val wk = Window.partitionBy(keys.map(col): _*)
    val cum = grid
      .withColumn("__cum", sum(col("__c")).over(wk.orderBy(col("__v"))))
      .withColumn("__n", sum(col("__c")).over(wk))
      .withColumn("__k",
        floor(col("__n").cast("double") * lit(trimFrac)).cast("long"))
    val kept = greatest(lit(0L),
      least(col("__cum"), col("__n") - col("__k")) -
        greatest(col("__cum") - col("__c"), col("__k")))
    cum.withColumn("__kept", kept)
      .groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("n"),
        sum(col("__kept")).as("n_kept"),
        sum((col("__v") * col("__kept")).cast("decimal(38,0)")).as("__s"))
      .select(keys.map(col) ++ Seq(col("n"), col("n_kept"),
        when(col("n_kept") > 0L,
          col("__s").cast("double") / col("n_kept").cast("double") /
            lit(math.pow(10, valueScale))).as("trimmed_mean")): _*)
  }

  /**
   * Pairwise mutual-information matrix over a column set: every
   * unordered pair runs [[mutualInfo]]'s exact contingency machinery
   * — the feature-audit sweep behind "which columns are redundant /
   * which leak the label", one gated relation instead of N² ad-hoc
   * queries.
   *
   * Values stringify (categorical semantics — bin numerics upstream);
   * per-pair listwise deletion of nulls, matching [[mutualInfo]].
   *
   * Output: (col_a, col_b, n, mi, h_a, h_b, nmi) — one row per
   * unordered pair in the caller's column order.
   *
   * Scale posture: the stack melt amplifies the scan by |pairs| —
   * intended for categorical audit sets (tens of columns), where the
   * melted relation still collapses map-side to |pairs| × joint-grid
   * rows in [[mutualInfo]]'s ONE contingency aggregation.
   */
  def mutualInfoMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "mutualInfoMatrix needs at least 2 columns")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val stackArgs = pairs.map { case (a, b) =>
      s"'$a', '$b', CAST(`$a` AS STRING), CAST(`$b` AS STRING)"
    }.mkString(", ")
    val melted = df.select(expr(
      s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, __va, __vb)"))
    mutualInfo(melted, Seq("col_a", "col_b"), "__va", "__vb")
  }

  /**
   * Friedman test per key — [[kruskalWallis]]'s REPEATED-MEASURES
   * sibling: k treatments measured on the SAME n blocks (users,
   * machines, days), ranked WITHIN each block, so between-block
   * level differences cancel instead of inflating the scatter the
   * way they would in a between-subjects test.
   *
   * Pinned semantics: the [[completeBlocks]] grid — a block's value
   * under a treatment is the exact grid SUM of its rows, and only
   * complete blocks rank. Average ranks ride the half-integer grid,
   * so the engine carries DOUBLED ranks ([[doubledMidrank]]) as
   * exact longs; per-treatment rank sums, `Σ R_j²` and the rank
   * scatter `Σ r²` are exact integer sums (order-free — no fold
   * needed), and the statistic closes in one pinned chain in the
   * tie-robust Conover form, doubled throughout:
   * `χ² = (k−1)·(ΣR2_j² − n²k(k+1)²) / (Σr2² − nk(k+1)²)` (the
   * denominator IS the tie-adjusted scatter; with no ties it
   * reduces to the classic `12ΣR²/(nk(k+1)) − 3n(k+1)`). Keys with
   * < 2 treatments or an all-tied sample (zero denominator) emit a
   * row with null chi2_f.
   *
   * Output: (keys…, n_blocks, k_treatments, chi2_f) — χ² ≈ χ²(k−1)
   * under the no-treatment-effect null.
   *
   * Scale posture: the [[completeBlocks]] exchange also carries the
   * per-block rank windows, the (keys, treatment) collapse, and the
   * key closing. Per-block state is the block's k-row cell set;
   * nothing key-sized materializes. Exactness envelope: Σr2² ≤
   * 4nk³ and ΣR2_j² ≤ 4n²k³ must cast to double from exact integers
   * (< 2⁵³ up to ~10¹⁵ blocks·treatments³ — any realistic design).
   */
  def friedman(df: DataFrame, keys: Seq[String], blockCol: String,
               treatCol: String, valueCol: String,
               valueScale: Int = 2): DataFrame = {
    val ranked = completeBlocks("friedman", df, keys, blockCol, treatCol,
      col(valueCol), sum(unscaled(col(valueCol), valueScale)))
      .withColumn("__r2",
        doubledMidrank(keys.map(col) :+ col(blockCol), col("__vc")))
    val cells = ranked.groupBy(keys.map(col) :+ col(treatCol): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__r2")).as("__R2"),
        sum((col("__r2") * col("__r2")).cast("decimal(38,0)"))
          .as("__sq"))
    val agg = cells.groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("n_blocks"),
        count(lit(1)).as("k_treatments"),
        sum((col("__R2").cast("decimal(18,0)") *
          col("__R2").cast("decimal(18,0)"))).as("__sr2"),
        sum(col("__sq")).as("__a2"))
    val nD = col("n_blocks").cast("double")
    val kD = col("k_treatments").cast("double")
    val kp1 = kD + lit(1.0)
    val num = col("__sr2").cast("double") - nD * nD * kD * kp1 * kp1
    val den = col("__a2").cast("double") - nD * kD * kp1 * kp1
    agg.select(keys.map(col) ++ Seq(col("n_blocks"),
      col("k_treatments"),
      when(col("k_treatments") >= 2L && col("n_blocks") > 0L &&
        den > 0.0, (kD - lit(1.0)) * num / den).as("chi2_f")): _*)
  }

  /**
   * Cochran's Q test per key — [[mcnemar]]'s k-condition
   * generalization: the SAME subjects tried under k treatments with
   * a BINARY outcome (did variant A/B/C convert this user?); Q asks
   * whether the k success rates differ, using only within-subject
   * information.
   *
   * Pinned semantics: the [[completeBlocks]] grid with subjects as
   * blocks — a subject's outcome under a treatment is the MAX over
   * its rows (any success counts, [[mcnemar]]'s rule), and only
   * complete subjects score. With column totals G_j (successes per
   * treatment), row totals L_i (successes per subject), N = ΣG =
   * ΣL: `Q = (k−1)·(k·ΣG_j² − N²) / (k·N − ΣL_i²)` — every moment
   * an exact integer (the denominator is `ΣL_i(k−L_i)`, zero iff
   * every subject is all-success or all-failure), one pinned
   * closing. k = 2 reduces to [[mcnemar]]'s uncorrected
   * `(b−c)²/(b+c)` exactly. Keys with < 2 treatments or a zero
   * denominator emit a row with null q.
   *
   * Output: (keys…, n_subjects, k_treatments, n_success, q) —
   * Q ≈ χ²(k−1) under the equal-rates null.
   *
   * Scale posture: the [[completeBlocks]] exchange also carries the
   * per-subject and per-treatment windows (same-key subsumption)
   * and the key closing; ΣG² and ΣL² accumulate at row-number-1
   * marker rows, so nothing is double-counted and nothing key-sized
   * materializes.
   */
  def cochranQ(df: DataFrame, keys: Seq[String], subjectCol: String,
               treatCol: String, outcomeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val y = col(outcomeCol).cast("boolean")
    val subCols = keys.map(col) :+ col(subjectCol)
    val trtCols = keys.map(col) :+ col(treatCol)
    val marked = completeBlocks("cochranQ", df, keys, subjectCol,
        treatCol, y, max(when(y, 1L).otherwise(0L)))
      .withColumn("__L",
        sum(col("__vc")).over(Window.partitionBy(subCols: _*)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(subCols: _*).orderBy(col(treatCol))))
      .withColumn("__G",
        sum(col("__vc")).over(Window.partitionBy(trtCols: _*)))
      .withColumn("__rm", row_number().over(
        Window.partitionBy(trtCols: _*).orderBy(col(subjectCol))))
    val agg = marked.groupBy(keys.map(col): _*)
      .agg(sum(col("__vc")).as("n_success"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L))
          .as("n_subjects"),
        max(col("__kk")).cast("long").as("k_treatments"),
        sum(when(col("__rn") === 1, col("__L") * col("__L")))
          .as("__l2"),
        sum(when(col("__rm") === 1, col("__G") * col("__G")))
          .as("__g2"))
    val kD = col("k_treatments").cast("double")
    val nS = col("n_success").cast("double")
    val num = kD * col("__g2").cast("double") - nS * nS
    val den = kD * nS - col("__l2").cast("double")
    agg.select(keys.map(col) ++ Seq(col("n_subjects"),
      col("k_treatments"), col("n_success"),
      when(col("k_treatments") >= 2L && den > 0.0,
        (kD - lit(1.0)) * num / den).as("q")): _*)
  }

  /**
   * Jarque-Bera normality test per key: is the sample's shape
   * (skewness, kurtosis) consistent with a normal? — the moment-based
   * screen you run BEFORE trusting [[welchT]]/[[anovaF]] on a small
   * sample, and the classic fat-tail detector on returns.
   * `JB = n/6·(g₁² + g₂²/4)` with `g₁ = m₃/m₂^{3/2}`,
   * `g₂ = m₄/m₂² − 3` ≈ χ²(2) under normality.
   *
   * Engine-exact: values ride the cent grid (skewness/kurtosis are
   * scale-invariant, so the grid shift cancels); ΣX, ΣX², ΣX³, ΣX⁴
   * are exact DECIMAL sums in ONE map-side-combined aggregation, and
   * the central moments close in one pinned chain (the m₃/m₄
   * expansions around the mean, then `m₃/(m₂·√m₂)` — sqrt, never
   * pow, so both engines round identically). Keys with n < 2 or
   * zero variance emit null.
   *
   * Output: (keys…, n, skewness, kurtosis_excess, jb).
   *
   * Scale posture: ONE aggregation pass, nothing row-sized after.
   * Exactness envelope: Σ(v·10^scale)⁴ must fit DECIMAL(38,0) —
   * |v|·10^scale ≲ 3·10⁷ over 10¹⁰ rows stays inside; rescale
   * wider-ranged inputs.
   */
  def jarqueBera(df: DataFrame, keys: Seq[String], valueCol: String,
                 valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "jarqueBera needs key columns")
    val c = unscaled(col(valueCol), valueScale).cast("decimal(38,0)")
    val m = df
      .filter(col(valueCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(c).as("__s1"),
        sum(c * c).as("__s2"), sum(c * c * c).as("__s3"),
        sum((c * c) * (c * c)).as("__s4"))
    val nD = col("n").cast("double")
    val mu = col("__s1").cast("double") / nD
    val s2n = col("__s2").cast("double") / nD
    val s3n = col("__s3").cast("double") / nD
    val s4n = col("__s4").cast("double") / nD
    val m2 = s2n - mu * mu
    val m3 = s3n - lit(3.0) * mu * s2n + lit(2.0) * mu * mu * mu
    val m4 = s4n - lit(4.0) * mu * s3n + lit(6.0) * mu * mu * s2n -
      lit(3.0) * mu * mu * mu * mu
    // zero-variance keys null the DENOMINATOR (x/null = null) — a
    // bare when() guard is not enough under ANSI because CSE can
    // hoist the shared division out of the conditional
    val g1 = m3 / when(m2 > 0.0, m2 * sqrt(m2))
    val g2 = m4 / when(m2 > 0.0, m2 * m2) - lit(3.0)
    val jb = nD / lit(6.0) * (g1 * g1 + g2 * g2 / lit(4.0))
    val ok = col("n") >= 2L && m2 > 0.0
    m.select(keys.map(col) ++ Seq(col("n"),
      when(ok, g1).as("skewness"),
      when(ok, g2).as("kurtosis_excess"),
      when(ok, jb).as("jb")): _*)
  }

  /**
   * First-order partial correlation per key: the correlation of x
   * and y with the confounder z HELD FIXED —
   * `r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²))` — the
   * one-line answer to "is the x–y correlation real, or is z
   * driving both?". Listwise deletion: rows with any null among
   * x, y, z drop, so all three pairwise r's share one n.
   *
   * Engine-exact: all nine moments (Σx, Σy, Σz, Σx², Σy², Σz²,
   * Σxy, Σxz, Σyz) are exact DECIMAL sums in ONE map-side-combined
   * aggregation; each pairwise r closes in [[pearsonMatrix]]'s
   * pinned form and the partial closes in one more pinned chain.
   * Zero-variance columns null their pairs; |r_xz| = 1 or
   * |r_yz| = 1 (zero residual variance) nulls the partial.
   *
   * Output: (keys…, n, r_xy, r_xz, r_yz, r_partial).
   *
   * Scale posture: ONE aggregation pass; the closing runs on the
   * key relation. Same DECIMAL(38) envelope as [[pearsonMatrix]].
   */
  def partialCorr(df: DataFrame, keys: Seq[String], xCol: String,
                  yCol: String, zCol: String,
                  scale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "partialCorr needs key columns")
    val t = s"decimal(18,$scale)"
    val pt = s"decimal(38,${2 * scale})"
    val x = col(xCol).cast(t); val yv = col(yCol).cast(t)
    val z = col(zCol).cast(t)
    val m = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(zCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(x).as("__sx"), sum(yv).as("__sy"), sum(z).as("__sz"),
        sum((x * x).cast(pt)).as("__sxx"),
        sum((yv * yv).cast(pt)).as("__syy"),
        sum((z * z).cast(pt)).as("__szz"),
        sum((x * yv).cast(pt)).as("__sxy"),
        sum((x * z).cast(pt)).as("__sxz"),
        sum((yv * z).cast(pt)).as("__syz"))
    val nD = col("n").cast("double")
    val sx = col("__sx").cast("double"); val sy = col("__sy").cast("double")
    val sz = col("__sz").cast("double")
    val vx = nD * col("__sxx").cast("double") - sx * sx
    val vy = nD * col("__syy").cast("double") - sy * sy
    val vz = nD * col("__szz").cast("double") - sz * sz
    // null denominators (not bare when() guards) — CSE hoists the
    // shared divisions out of conditionals, and ANSI x/0 throws
    def r(sab: Column, va: Column, vb: Column, sa: Column, sb: Column) =
      (nD * sab - sa * sb) /
        when(va > 0.0 && vb > 0.0, sqrt(va) * sqrt(vb))
    val rxy = r(col("__sxy").cast("double"), vx, vy, sx, sy)
    val rxz = r(col("__sxz").cast("double"), vx, vz, sx, sz)
    val ryz = r(col("__syz").cast("double"), vy, vz, sy, sz)
    val den = (lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)
    val rp = (rxy - rxz * ryz) / when(den > 0.0, sqrt(den))
    m.select(keys.map(col) ++ Seq(col("n"),
      when(vx > 0.0 && vy > 0.0, rxy).as("r_xy"),
      when(vx > 0.0 && vz > 0.0, rxz).as("r_xz"),
      when(vy > 0.0 && vz > 0.0, ryz).as("r_yz"),
      when(vx > 0.0 && vy > 0.0 && vz > 0.0 && den > 0.0, rp)
        .as("r_partial")): _*)
  }

  /**
   * Lin's concordance correlation coefficient per key — AGREEMENT,
   * not just correlation: Pearson's r forgives any linear bias
   * (y = 2x + 7 scores r = 1); CCC charges for it —
   * `ccc = 2·s_xy / (s_x² + s_y² + (x̄−ȳ)²)` — making it the right
   * score for "does the cheap sensor / new model REPRODUCE the
   * reference?", where calibration error must hurt.
   *
   * Engine-exact: the five moments are exact DECIMAL sums in ONE
   * map-side-combined aggregation; the biased (1/n) central moments
   * and both closings are pinned chains (means rescale to input
   * units by one literal division). r nulls on zero variance; ccc
   * nulls only when the denominator is 0 (both variances zero AND
   * equal means — identical constants).
   *
   * Output: (keys…, n, mean_x, mean_y, r, ccc); ccc ≤ |r| always,
   * with equality iff the fit is exactly the identity line.
   *
   * Scale posture: ONE aggregation pass. Same DECIMAL(38) envelope
   * as [[pearsonMatrix]].
   */
  def linCcc(df: DataFrame, keys: Seq[String], xCol: String,
             yCol: String, scale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "linCcc needs key columns")
    val t = s"decimal(18,$scale)"
    val pt = s"decimal(38,${2 * scale})"
    val x = col(xCol).cast(t); val yv = col(yCol).cast(t)
    val m = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(x).as("__sx"), sum(yv).as("__sy"),
        sum((x * x).cast(pt)).as("__sxx"),
        sum((yv * yv).cast(pt)).as("__syy"),
        sum((x * yv).cast(pt)).as("__sxy"))
    val nD = col("n").cast("double")
    val mx = col("__sx").cast("double") / nD
    val my = col("__sy").cast("double") / nD
    val sxx = col("__sxx").cast("double") / nD - mx * mx
    val syy = col("__syy").cast("double") / nD - my * my
    val sxy = col("__sxy").cast("double") / nD - mx * my
    val den = sxx + syy + (mx - my) * (mx - my)
    // null denominators, not bare when() guards (ANSI + CSE)
    val rr = sxy / when(sxx > 0.0 && syy > 0.0, sqrt(sxx) * sqrt(syy))
    val ccc = lit(2.0) * sxy / when(den > 0.0, den)
    m.select(keys.map(col) ++ Seq(col("n"),
      mx.as("mean_x"), my.as("mean_y"),
      rr.as("r"), ccc.as("ccc")): _*)
  }

  /**
   * Chow structural-break test per key: did the y-on-x relationship
   * CHANGE between two regimes (pre/post launch, pre/post incident)?
   * Fit the line pooled and per segment;
   * `F = ((SSR_p − SSR₁ − SSR₂)/2) / ((SSR₁+SSR₂)/(n−4))` ≈ F(2, n−4)
   * under no-break — large F = the two regimes genuinely follow
   * different lines.
   *
   * Engine-exact: per-segment moments (n, Σx, Σy, Σx², Σxy, Σy²)
   * are exact DECIMAL conditional sums in ONE map-side-combined
   * aggregation; pooled moments are exact decimal ADDITIONS of the
   * segment sums (never re-scanned); each SSR closes in the pinned
   * `Syy_c − Sxy_c²/Sxx_c` chain. Keys where either segment has
   * < 3 points, any Sxx_c ≤ 0 (vertical data), or a zero residual
   * denominator emit null F.
   *
   * Output: (keys…, n_pre, n_post, ssr_pooled, ssr_pre, ssr_post,
   * f_chow).
   *
   * Scale posture: ONE aggregation pass; closings on the key
   * relation. Same DECIMAL(38) envelope as [[pearsonMatrix]].
   */
  def chowTest(df: DataFrame, keys: Seq[String], segmentCol: String,
               xCol: String, yCol: String, scale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "chowTest needs key columns")
    val t = s"decimal(18,$scale)"
    val pt = s"decimal(38,${2 * scale})"
    val x = col(xCol).cast(t); val yv = col(yCol).cast(t)
    val seg = col(segmentCol).cast("boolean")
    def side(c: Column, on: Boolean) = when(seg === lit(on), c)
    val m = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        seg.isNotNull && keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(
        sum(when(!seg, 1L).otherwise(0L)).as("n_pre"),
        sum(when(seg, 1L).otherwise(0L)).as("n_post"),
        sum(side(x, false)).as("__sx0"), sum(side(x, true)).as("__sx1"),
        sum(side(yv, false)).as("__sy0"), sum(side(yv, true)).as("__sy1"),
        sum(side((x * x).cast(pt), false)).as("__sxx0"),
        sum(side((x * x).cast(pt), true)).as("__sxx1"),
        sum(side((x * yv).cast(pt), false)).as("__sxy0"),
        sum(side((x * yv).cast(pt), true)).as("__sxy1"),
        sum(side((yv * yv).cast(pt), false)).as("__syy0"),
        sum(side((yv * yv).cast(pt), true)).as("__syy1"))
    def ssr(n: Column, sx: Column, sy: Column, sxx: Column,
            sxy: Column, syy: Column): (Column, Column) = {
      val nD = n.cast("double")
      val sxD = sx.cast("double"); val syD = sy.cast("double")
      val cxx = sxx.cast("double") - sxD * sxD / nD
      val cxy = sxy.cast("double") - sxD * syD / nD
      val cyy = syy.cast("double") - syD * syD / nD
      (cyy - cxy * cxy / when(cxx > 0.0, cxx), cxx)
    }
    val (ssr0, cxx0) = ssr(col("n_pre"), col("__sx0"), col("__sy0"),
      col("__sxx0"), col("__sxy0"), col("__syy0"))
    val (ssr1, cxx1) = ssr(col("n_post"), col("__sx1"), col("__sy1"),
      col("__sxx1"), col("__sxy1"), col("__syy1"))
    val nT = col("n_pre") + col("n_post")
    val (ssrP, cxxP) = ssr(nT,
      col("__sx0") + col("__sx1"), col("__sy0") + col("__sy1"),
      col("__sxx0") + col("__sxx1"), col("__sxy0") + col("__sxy1"),
      col("__syy0") + col("__syy1"))
    val nD = nT.cast("double")
    val resid = ssr0 + ssr1
    val f = (ssrP - resid) / lit(2.0) /
      when(resid > 0.0 && nD > 4.0, resid / (nD - lit(4.0)))
    val ok = col("n_pre") >= 3L && col("n_post") >= 3L &&
      cxx0 > 0.0 && cxx1 > 0.0 && cxxP > 0.0
    m.select(keys.map(col) ++ Seq(col("n_pre"), col("n_post"),
      when(ok, ssrP).as("ssr_pooled"), when(ok, ssr0).as("ssr_pre"),
      when(ok, ssr1).as("ssr_post"),
      when(ok && resid > 0.0 && nD > 4.0, f).as("f_chow")): _*)
  }

  /**
   * Cronbach's alpha per key — internal-consistency reliability of
   * a k-item scale (survey battery, rubric, multi-probe eval): do
   * the items measure ONE underlying trait?
   * `α = k/(k−1)·(1 − Σσ²ᵢ / σ²_T)` with σ²ᵢ the per-item sample
   * variance across subjects and σ²_T the variance of subject
   * TOTALS. α ≥ 0.7 is the conventional "reliable scale" bar.
   *
   * Pinned semantics: the [[completeBlocks]] grid with subjects as
   * blocks and items as treatments — a subject's score on an item is
   * the exact grid SUM of its rows, and only complete subjects (all
   * k items) score. Per-item and per-subject moments ride the same
   * key exchange as exact integer window sums with row-number-1
   * markers; Σσ²ᵢ folds SEQUENTIALLY in item order (≡ list_reduce
   * — a double sum over items must not be
   * association-order-free-for-all), and σ²_T closes from exact ΣT,
   * ΣT². Keys with k < 2, n < 2 complete subjects, or
   * σ²_T ≤ 0 emit a row with null alpha.
   *
   * Output: (keys…, n_subjects, k_items, item_var_sum, total_var,
   * alpha).
   *
   * Scale posture: the [[completeBlocks]] exchange (same-key window
   * subsumption) and the key closing; the fold runs on the k-row
   * item grid.
   */
  def cronbachAlpha(df: DataFrame, keys: Seq[String], subjectCol: String,
                    itemCol: String, scoreCol: String,
                    valueScale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subCols = keys.map(col) :+ col(subjectCol)
    val itCols = keys.map(col) :+ col(itemCol)
    val marked = completeBlocks("cronbachAlpha", df, keys, subjectCol,
        itemCol, col(scoreCol), sum(unscaled(col(scoreCol), valueScale)))
      .withColumn("__T",
        sum(col("__vc")).over(Window.partitionBy(subCols: _*)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(subCols: _*).orderBy(col(itemCol))))
      .withColumn("__S",
        sum(col("__vc")).over(Window.partitionBy(itCols: _*)))
      .withColumn("__SS", sum((col("__vc").cast("decimal(19,0)") *
        col("__vc").cast("decimal(19,0)")))
        .over(Window.partitionBy(itCols: _*)))
      .withColumn("__nit",
        count(lit(1)).over(Window.partitionBy(itCols: _*)))
      .withColumn("__rm", row_number().over(
        Window.partitionBy(itCols: _*).orderBy(col(subjectCol))))
    val agg = marked.groupBy(keys.map(col): _*)
      .agg(sum(when(col("__rn") === 1, 1L).otherwise(0L))
          .as("n_subjects"),
        max(col("__kk")).cast("long").as("k_items"),
        sum(when(col("__rn") === 1, col("__T").cast("decimal(38,0)")))
          .as("__st"),
        sum(when(col("__rn") === 1, col("__T").cast("decimal(19,0)") *
          col("__T").cast("decimal(19,0)"))).as("__st2"),
        sort_array(collect_list(when(col("__rm") === 1,
          struct(col(itemCol).cast("string").as("__i"),
            col("__nit").cast("double").as("__n"),
            col("__S").cast("double").as("__s"),
            col("__SS").cast("double").as("__q"))))).as("__items"))
    // sample variance per item, folded in item order. NO nulls
    // inside the fold (a null in an aggregate() lambda with a
    // non-null zero reads back as garbage — the [[bartlett]]
    // lesson): n = 1 items divide by a neutral 1.0 instead, and the
    // n_subjects >= 2 gate below nulls the only case that hits it
    // (a complete grid has n_it = n_subjects for every item)
    val varSum = aggregate(col("__items"), lit(0.0), (acc, p) =>
      acc + (p.getField("__q") -
        p.getField("__s") * p.getField("__s") / p.getField("__n")) /
        when(p.getField("__n") > 1.0, p.getField("__n") - lit(1.0))
          .otherwise(lit(1.0)))
    val nD = col("n_subjects").cast("double")
    val kD = col("k_items").cast("double")
    val vt = (col("__st2").cast("double") -
      col("__st").cast("double") * col("__st").cast("double") / nD) /
      when(nD > 1.0, nD - lit(1.0))
    val alpha = kD / when(kD > 1.0, kD - lit(1.0)) *
      (lit(1.0) - col("__vs") / when(vt > 0.0, vt))
    agg.withColumn("__vs", varSum)
      .select(keys.map(col) ++ Seq(col("n_subjects"), col("k_items"),
        when(col("n_subjects") >= 2L, col("__vs")).as("item_var_sum"),
        when(col("n_subjects") >= 2L, vt).as("total_var"),
        when(col("k_items") >= 2L && col("n_subjects") >= 2L &&
          vt > 0.0, alpha).as("alpha")): _*)
  }

  /**
   * Ecological diversity indices per key over a categorical column
   * — the concentration/coverage panel for any composition audit
   * (training-data source mix, label balance, traffic by domain):
   * richness k, Simpson's `λ = Σnᵢ(nᵢ−1)/(N(N−1))` (the probability
   * two draws WITHOUT replacement match — exact rational),
   * Gini-Simpson `1−λ`, Shannon `H = −Σ pᵢ ln pᵢ`, and Pielou
   * evenness `H/ln k`.
   *
   * Engine-exact: category counts and Σnᵢ(nᵢ−1) are exact integers;
   * λ is one pinned division; H folds SEQUENTIALLY in category
   * order (≡ list_reduce — never an order-free double sum), each
   * term the pinned `(n/N)·ln(n/N)` chain. Singleton-category keys:
   * H = 0, evenness null (ln 1 = 0 denominator); N < 2 nulls λ.
   *
   * Output: (keys…, n, richness, simpson, gini_simpson, shannon,
   * evenness).
   *
   * Scale posture: one (keys, category) map-side collapse, one key
   * collapse; the fold runs on the category grid.
   */
  def diversityIndex(df: DataFrame, keys: Seq[String],
                     catCol: String): DataFrame = {
    require(keys.nonEmpty, "diversityIndex needs key columns")
    val cells = df
      .filter(col(catCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ col(catCol): _*)
      .agg(count(lit(1)).as("__n"))
    val agg = cells.groupBy(keys.map(col): _*)
      .agg(sum(col("__n")).as("n"), count(lit(1)).as("richness"),
        sum(col("__n").cast("decimal(19,0)") *
          (col("__n") - 1L).cast("decimal(19,0)")).as("__pairs"),
        sort_array(collect_list(struct(
          col(catCol).cast("string").as("__c"),
          col("__n").cast("double").as("__d")))).as("__cells"))
    val nD = col("n").cast("double")
    val kD = col("richness").cast("double")
    val h = lit(0.0) - aggregate(col("__cells"), lit(0.0), (acc, p) =>
      acc + p.getField("__d") / nD * log(p.getField("__d") / nD))
    val lambda = col("__pairs").cast("double") /
      when(col("n") >= 2L, nD * (nD - lit(1.0)))
    agg.select(keys.map(col) ++ Seq(col("n"), col("richness"),
      lambda.as("simpson"), (lit(1.0) - lambda).as("gini_simpson"),
      h.as("shannon"),
      (h / when(col("richness") >= 2L, log(kD))).as("evenness")): _*)
  }

  /**
   * Bartlett's test per key — the PARAMETRIC variance-homogeneity
   * test completing the trio with [[brownForsythe]] (robust) and
   * [[anovaF]]'s equal-variance assumption it checks:
   * `M = (N−k)·ln(S²_p) − Σ(n_g−1)·ln(s²_g)` over the pooled and
   * per-group sample variances, corrected by
   * `C = 1 + (Σ1/(n_g−1) − 1/(N−k)) / (3(k−1))`; `M/C ≈ χ²(k−1)`
   * under equal variances. More powerful than Brown-Forsythe when
   * normality holds, badly anti-conservative when it doesn't — run
   * [[jarqueBera]] first.
   *
   * Engine-exact: per-group (n, Σx, Σx²) are exact integer cent
   * moments on ONE map-side-combined (keys, group) collapse; the
   * scatter/ln/reciprocal terms fold SEQUENTIALLY in group order
   * (≡ list_reduce), every denominator null-guarded, and M/C closes
   * in one pinned chain. A group with n < 2 or zero variance makes
   * the statistic undefined → null (Bartlett has no defense there;
   * [[brownForsythe]] does). Keys with k < 2 emit null.
   *
   * Output: (keys…, k_groups, n, bartlett_chi2).
   *
   * Scale posture: cell collapse, key collapse, grid fold — the
   * [[anovaF]] shape. Variance is cent²-scaled; ln(c²·σ²) shifts
   * both M terms equally, so the STATISTIC is scale-invariant.
   */
  def bartlett(df: DataFrame, keys: Seq[String], groupCol: String,
               valueCol: String, valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "bartlett needs key columns")
    val c = unscaled(col(valueCol), valueScale)
    val cells = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ col(groupCol): _*)
      .agg(count(lit(1)).as("__n"),
        sum(c.cast("decimal(38,0)")).as("__s"),
        sum(c.cast("decimal(19,0)") * c.cast("decimal(19,0)"))
          .as("__q"))
    // state [A = pooled scatter, B = Σ(n-1)ln(s²), D = Σ1/(n-1),
    // N, K]. NO nulls inside the fold: a null produced inside an
    // aggregate() lambda whose zero is array(lit(0.0), …) is typed
    // containsNull = false and reads back as GARBAGE downstream —
    // invalid groups (n < 2 or zero scatter) instead contribute
    // neutral terms and are counted ORDER-FREE in __bad, which
    // nulls the closing
    val fold = aggregate(
      sort_array(collect_list(struct(col(groupCol).as("__g"),
        col("__n").cast("double").as("__nd"),
        col("__s").cast("double").as("__sd"),
        col("__q").cast("double").as("__qd")))),
      array(lit(0.0), lit(0.0), lit(0.0), lit(0.0), lit(0.0)),
      (acc, p) => {
        val scat = p.getField("__qd") -
          p.getField("__sd") * p.getField("__sd") / p.getField("__nd")
        val okG = p.getField("__nd") > 1.0 && scat > 0.0
        val nm1 = when(okG, p.getField("__nd") - lit(1.0))
          .otherwise(lit(1.0))
        val s2 = when(okG, scat / nm1).otherwise(lit(1.0))
        array(
          element_at(acc, 1) + scat,
          element_at(acc, 2) + nm1 * log(s2),
          element_at(acc, 3) + lit(1.0) / nm1,
          element_at(acc, 4) + p.getField("__nd"),
          element_at(acc, 5) + lit(1.0))
      })
    val bad = sum(when(col("__n") < 2L ||
      col("__q").cast("double") - col("__s").cast("double") *
        col("__s").cast("double") / col("__n").cast("double") <= 0.0,
      1L).otherwise(0L))
    val m = (i: Int) => element_at(col("__m"), i)
    val nmk = m(4) - m(5)
    val sp2 = m(1) / when(nmk > 0.0, nmk)
    val bigM = nmk * log(when(sp2 > 0.0, sp2)) - m(2)
    val cc = lit(1.0) + (m(3) - lit(1.0) / when(nmk > 0.0, nmk)) /
      (lit(3.0) * when(m(5) > 1.0, m(5) - lit(1.0)))
    cells.groupBy(keys.map(col): _*)
      .agg(fold.as("__m"), bad.as("__bad"))
      .select(keys.map(col) ++ Seq(
        m(5).cast("long").as("k_groups"), m(4).cast("long").as("n"),
        when(m(5) >= 2.0 && col("__bad") === 0L, bigM / cc)
          .as("bartlett_chi2")): _*)
  }

  /**
   * Grubbs' max-deviation statistic per key: the single most
   * suspicious point — `G = max|xᵢ − x̄| / s` — the formal version
   * of "is that one reading an outlier?", reported with the value
   * that realizes it. Compare G against the Grubbs critical value
   * at your n; G > ~3 is suspicious at any realistic n.
   *
   * Engine-exact: deviations compare on the EXACT integer grid
   * `|n·xᵢ − Σx|` (n-scaled cents — no double mean in the argmax),
   * so the maximal point is found exactly; among equal deviations
   * the LARGER value wins (pinned — the high outlier over the
   * symmetric low one). G closes in one pinned chain from exact
   * (n, Σx, Σx²): `(maxdev/n) / √s²` with the sample variance. Keys
   * with n < 3 or zero variance emit null G (the value still
   * reports).
   *
   * Output: (keys…, n, outlier_value, g_stat).
   *
   * Scale posture: ONE key exchange (window moments + deviation
   * max), one closing collapse. Envelope: n·|x|·10^scale must fit a
   * long — 10⁹ rows of 10⁷-cent values stays inside 2⁶³.
   */
  def grubbs(df: DataFrame, keys: Seq[String], valueCol: String,
             valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "grubbs needs key columns")
    import org.apache.spark.sql.expressions.Window
    val scaleF = math.pow(10, valueScale)
    val wk = Window.partitionBy(keys.map(col): _*)
    val rows = df
      .filter(col(valueCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__vc", unscaled(col(valueCol), valueScale))
      .withColumn("__n", count(lit(1)).over(wk))
      .withColumn("__s", sum(col("__vc")).over(wk))
      .withColumn("__q", sum(col("__vc").cast("decimal(19,0)") *
        col("__vc").cast("decimal(19,0)")).over(wk))
      .withColumn("__dev", abs(col("__n") * col("__vc") - col("__s")))
      .withColumn("__mx", max(col("__dev")).over(wk))
    val agg = rows.groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("n"), max(col("__s")).as("__sv"),
        max(col("__q")).as("__qv"), max(col("__mx")).as("__mxv"),
        max(when(col("__dev") === col("__mx"), col("__vc")))
          .as("__out"))
    val nD = col("n").cast("double")
    val s2 = (col("__qv").cast("double") -
      col("__sv").cast("double") * col("__sv").cast("double") / nD) /
      when(nD > 1.0, nD - lit(1.0))
    val g = col("__mxv").cast("double") / nD /
      when(s2 > 0.0, sqrt(s2))
    agg.select(keys.map(col) ++ Seq(col("n"),
      (col("__out").cast("double") / lit(scaleF)).as("outlier_value"),
      when(col("n") >= 3L && s2 > 0.0, g).as("g_stat")): _*)
  }

  /**
   * Wilcoxon signed-rank test per key — the paired CONTINUOUS
   * sibling completing the family ([[mcnemar]] = paired binary,
   * [[friedman]] = k repeated treatments, [[mannWhitneyU]] =
   * unpaired): same subjects under two conditions, judged on the
   * RANKS of |differences| — location-shift sensitive, outlier-
   * tame, no normality assumed.
   *
   * Pinned semantics: a subject's value under a condition is the
   * exact grid SUM of its rows; subjects observed under BOTH
   * conditions only; zero differences drop (the standard
   * convention). |d| ranks ride the doubled-rank grid
   * `2·rank_min + t − 1` (exact longs); `W₂⁺ = Σ r₂` over positive
   * differences, and the normal approximation closes in one pinned
   * chain against the DOUBLED moments `E = n(n+1)/2`,
   * `Var = n(n+1)(2n+1)/6 − ΣT/12` with the exact tie term
   * `ΣT = Σ(t³−t)`. Keys whose differences are all zero vanish
   * (no pairs survive); zero variance emits null z.
   *
   * Output: (keys…, n_pairs, w_plus, z) — w_plus on the ½ grid
   * (W₂⁺/2), z standard normal under no-shift.
   *
   * Scale posture: one (keys, subject, condition-pair) map-side
   * collapse, then ONE key exchange carries the |d| rank/tie
   * windows and the closing collapse.
   */
  def wilcoxonSignedRank(df: DataFrame, keys: Seq[String],
                         subjectCol: String, condCol: String,
                         aLabel: String, bLabel: String,
                         valueCol: String,
                         valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "wilcoxonSignedRank needs key columns")
    val c = unscaled(col(valueCol), valueScale)
    val pairs = df
      .filter(col(valueCol).isNotNull && col(subjectCol).isNotNull &&
        (col(condCol) === aLabel || col(condCol) === bLabel) &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ col(subjectCol): _*)
      .agg(sum(when(col(condCol) === aLabel, c)).as("__a"),
        sum(when(col(condCol) === bLabel, c)).as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .withColumn("__d", (col("__a") - col("__b")).cast("long"))
      .filter(col("__d") =!= 0L)
      .withColumn("__ad", abs(col("__d")))
    val ranked = pairs
      .withColumn("__r2", doubledMidrank(keys.map(col), col("__ad")))
      .transform(withTieCubes(keys.map(col), col("__ad"), col(subjectCol)))
    val agg = ranked.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__d") > 0L, col("__r2")).otherwise(0L))
          .as("__w2"),
        sum(col("__tc")).as("__tt"))
    val nD = col("n_pairs").cast("double")
    val e2 = nD * (nD + lit(1.0)) / lit(2.0)
    val v2 = nD * (nD + lit(1.0)) * (lit(2.0) * nD + lit(1.0)) /
      lit(6.0) - col("__tt").cast("double") / lit(12.0)
    val z = (col("__w2").cast("double") - e2) /
      when(v2 > 0.0, sqrt(v2))
    agg.select(keys.map(col) ++ Seq(col("n_pairs"),
      (col("__w2").cast("double") / lit(2.0)).as("w_plus"),
      when(col("n_pairs") >= 1L && v2 > 0.0, z).as("z")): _*)
  }

  /**
   * Log-rank test per key — does survival differ between two
   * groups? The standard A/B comparison on time-to-event data
   * (churn, failure, conversion latency), completing the family
   * with [[graft.ops.Survival.kaplanMeier]] (the curve) and
   * [[graft.ops.Survival.nelsonAalen]]: at each event time,
   * compare group 1's OBSERVED events `d₁ₜ` with its EXPECTED share
   * `n₁ₜ·dₜ/nₜ` under no-difference;
   * `χ² = (ΣO − ΣE)² / ΣV ≈ χ²(1)` with the hypergeometric
   * variance `Vₜ = dₜ(n₁ₜ/nₜ)(1−n₁ₜ/nₜ)(nₜ−dₜ)/(nₜ−1)`.
   *
   * Engine-exact: durations snap to the 10⁻ˢᶜᵃˡᵉ grid; per-time
   * cells (events and totals per group) are exact integers, at-risk
   * counts are `total − prefix` of exact integer window sums on the
   * TIME grid (one key exchange), and the O/E/V accumulation folds
   * SEQUENTIALLY in time order (≡ list_reduce) with no nulls inside
   * the fold (the [[bartlett]] rule). E accumulates at EVERY event
   * time (`E = d·n₁/n` is well-defined down to n = 1 — when the
   * lone last at-risk subject dies, O and E move together, matching
   * R `survdiff`/lifelines); only the variance term is degenerate
   * at n ≤ 1 (its n−1 divisor), so only V takes the neutral zero
   * there. Keys with zero variance emit null.
   *
   * Output: (keys…, n_events_1, n_events_0, expected_1, chi2).
   *
   * Scale posture: one (keys, group, time) map-side collapse, one
   * key exchange for the (keys, time) grid windows, grid fold.
   * Per-key state is the distinct-event-time grid.
   */
  def logRank(df: DataFrame, keys: Seq[String], groupCol: String,
              durationCol: String, eventCol: String,
              valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "logRank needs key columns")
    import org.apache.spark.sql.expressions.Window
    val t = unscaled(col(durationCol), valueScale)
    val g1 = col(groupCol).cast("boolean")
    val ev = col(eventCol).cast("boolean")
    val cells = df
      .filter(col(durationCol).isNotNull && g1.isNotNull &&
        ev.isNotNull && keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ t.as("__t"): _*)
      .agg(sum(when(g1 && ev, 1L).otherwise(0L)).as("__d1"),
        sum(when(!g1 && ev, 1L).otherwise(0L)).as("__d0"),
        sum(when(g1, 1L).otherwise(0L)).as("__c1"),
        sum(when(!g1, 1L).otherwise(0L)).as("__c0"))
    val wKey = Window.partitionBy(keys.map(col): _*)
    val wPre = Window.partitionBy(keys.map(col): _*).orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val grid = cells
      .withColumn("__T1", sum(col("__c1")).over(wKey))
      .withColumn("__T0", sum(col("__c0")).over(wKey))
      .withColumn("__n1",
        col("__T1") - coalesce(sum(col("__c1")).over(wPre), lit(0L)))
      .withColumn("__n0",
        col("__T0") - coalesce(sum(col("__c0")).over(wPre), lit(0L)))
    // fold O/E/V in time order (no nulls inside the fold): E
    // accumulates whenever d > 0 (n >= d >= 1 so the share is
    // well-defined); V's (n-1) divisor is degenerate at n <= 1, so
    // only V takes the neutral zero there
    val fold = aggregate(
      sort_array(collect_list(struct(col("__t").as("__tt"),
        col("__d1").cast("double").as("__e1"),
        (col("__d1") + col("__d0")).cast("double").as("__dd"),
        col("__n1").cast("double").as("__m1"),
        (col("__n1") + col("__n0")).cast("double").as("__mm")))),
      array(lit(0.0), lit(0.0)),
      (acc, p) => {
        val okE = p.getField("__dd") > 0.0
        val okV = p.getField("__mm") > 1.0 && okE
        val nn = when(okE, p.getField("__mm")).otherwise(lit(1.0))
        val nm1 = when(okV, p.getField("__mm") - lit(1.0))
          .otherwise(lit(1.0))
        val share = p.getField("__m1") / nn
        val e = when(okE, share * p.getField("__dd")).otherwise(lit(0.0))
        val v = when(okV, p.getField("__dd") * share *
          (lit(1.0) - share) *
          (p.getField("__mm") - p.getField("__dd")) / nm1)
          .otherwise(lit(0.0))
        array(element_at(acc, 1) + e, element_at(acc, 2) + v)
      })
    val agg = grid.groupBy(keys.map(col): _*)
      .agg(sum(col("__d1")).as("n_events_1"),
        sum(col("__d0")).as("n_events_0"), fold.as("__m"))
    val o1 = col("n_events_1").cast("double")
    val e1 = element_at(col("__m"), 1)
    val vv = element_at(col("__m"), 2)
    agg.select(keys.map(col) ++ Seq(col("n_events_1"),
      col("n_events_0"), e1.as("expected_1"),
      when(vv > 0.0, (o1 - e1) * (o1 - e1) / when(vv > 0.0, vv))
        .as("chi2")): _*)
  }

  /**
   * Ljung-Box portmanteau test per key — is the series WHITE NOISE
   * up to lag h? `Q = n(n+2)·Σₖ ρ̂ₖ²/(n−k) ≈ χ²(h)` over the
   * standard biased autocorrelations — the whole-correlogram
   * whiteness check ([[durbinWatson]] stops at lag 1; run this on
   * forecast residuals after [[graft.ops.TimeSeries.holtWinters]] /
   * [[graft.ops.TimeSeries.croston]]).
   *
   * Engine-exact: per-lag products `Σxₜxₜ₊ₖ`, head/tail sums and
   * Σx, Σx² are exact decimal sums over ONE window pass (all h lag
   * columns share the key exchange); each
   * `Cₖ = Σxₜxₜ₊ₖ − x̄(Hₖ+Tₖ) + (n−k)x̄²` and `ρ̂ₖ = Cₖ/C₀` is a
   * pinned chain, and Q accumulates over the STATIC lag list in
   * order (maxLag is a parameter, so the sum is one fixed
   * expression both engines evaluate left-to-right). Keys with
   * n ≤ maxLag or zero variance emit null.
   *
   * Output: (keys…, n, lb_q) — compare against χ²(maxLag).
   *
   * Scale posture: ONE key exchange (lag windows), ONE map-side
   * closing collapse; cost linear in maxLag per row.
   */
  def ljungBox(df: DataFrame, keys: Seq[String], tsCol: String,
               tieCol: String, valueCol: String, maxLag: Int = 3,
               valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "ljungBox needs key columns")
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val lags = 1 to maxLag
    val withLags = lags.foldLeft(df
      .filter(col(tsCol).isNotNull && col(tieCol).isNotNull &&
        col(valueCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__c", unscaled(col(valueCol), valueScale))) {
      case (d, k) => d.withColumn(s"__l$k", lead(col("__c"), k).over(ord))
    }
    val aggs = Seq(count(lit(1)).as("n"),
      sum(col("__c").cast("decimal(38,0)")).as("__s"),
      sum(col("__c").cast("decimal(19,0)") *
        col("__c").cast("decimal(19,0)")).as("__q")) ++
      lags.flatMap { k =>
        val lk = col(s"__l$k")
        Seq(
          sum(when(lk.isNotNull, col("__c").cast("decimal(19,0)") *
            lk.cast("decimal(19,0)"))).as(s"__a$k"),
          sum(when(lk.isNotNull, col("__c").cast("decimal(38,0)")))
            .as(s"__h$k"),
          sum(when(lk.isNotNull, lk.cast("decimal(38,0)")))
            .as(s"__t$k"))
      }
    val agg = withLags.groupBy(keys.map(col): _*).agg(aggs.head,
      aggs.tail: _*)
    val nD = col("n").cast("double")
    val mean = col("__s").cast("double") / nD
    val c0 = col("__q").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") / nD
    def ck(k: Int) = col(s"__a$k").cast("double") -
      mean * (col(s"__h$k").cast("double") +
        col(s"__t$k").cast("double")) +
      (nD - lit(k.toDouble)) * mean * mean
    val qSum = lags.foldLeft(lit(0.0): Column) { case (acc, k) =>
      val rho = ck(k) / when(c0 > 0.0, c0)
      acc + rho * rho / (nD - lit(k.toDouble))
    }
    val q = nD * (nD + lit(2.0)) * qSum
    agg.select(keys.map(col) ++ Seq(col("n"),
      when(col("n") > maxLag.toLong && c0 > 0.0, q).as("lb_q")): _*)
  }

  /**
   * Mann-Kendall trend test per key: is the series monotonically
   * trending, judged WITHOUT a linear model? —
   * `S = Σᵢ<ⱼ sign(xⱼ − xᵢ)` over the (tsCol, tieCol) time order,
   * with the tie-corrected normal approximation
   * `Var = (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18` and the standard
   * continuity-corrected z. The non-parametric companion to
   * [[theilSen]] (that one estimates the slope; this one tests it).
   *
   * Engine-exact: the series collects per key and S counts STRICT
   * inversions by in-executor mergesort (O(n log n), exact longs —
   * the [[kendallTau]] discipline); value ties contribute 0 to S
   * and their cubic term subtracts exactly; the z closing is one
   * pinned chain split by sign(S). Keys with Var ≤ 0 (n < 2 or all
   * tied) emit null z.
   *
   * Output: (keys…, n, s, var_num, z) — var_num = 18·Var as an
   * exact long; z standard normal under no-trend.
   *
   * Scale posture: ONE group exchange into collect_list; per-key
   * memory = series length (the [[kendallTau]] contract — per-
   * entity/per-slice series, documented envelope n ≲ 10⁶ per key).
   */
  def mannKendall(df: DataFrame, keys: Seq[String], tsCol: String,
                  tieCol: String, valueCol: String,
                  valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "mannKendall needs key columns")
    val walk = udf { rows: Seq[org.apache.spark.sql.Row] =>
      val n = rows.length
      val idx = (0 until n).sortBy(i => (rows(i).getLong(0),
        rows(i).getLong(1)))
      val vs = new Array[Long](n)
      var i = 0
      while (i < n) { vs(i) = rows(idx(i)).getLong(2); i += 1 }
      // strict inversions (time-earlier value strictly greater)
      var inv = 0L
      var src = vs.clone(); var dst = new Array[Long](n)
      var width = 1
      while (width < n) {
        var lo = 0
        while (lo < n) {
          val mid = math.min(lo + width, n)
          val hi = math.min(lo + 2 * width, n)
          var a = lo; var b = mid; var o = lo
          while (a < mid && b < hi) {
            if (src(a) <= src(b)) { dst(o) = src(a); a += 1 }
            else { dst(o) = src(b); inv += mid - a; b += 1 }
            o += 1
          }
          while (a < mid) { dst(o) = src(a); a += 1; o += 1 }
          while (b < hi) { dst(o) = src(b); b += 1; o += 1 }
          lo += 2 * width
        }
        val t = src; src = dst; dst = t
        width *= 2
      }
      // tie pairs and the cubic variance term over value tie runs
      var tiePairs = 0L; var cubic = 0L
      var run = 1L; var j = 1
      while (j <= n) {
        if (j < n && src(j) == src(j - 1)) run += 1
        else {
          tiePairs += run * (run - 1) / 2
          cubic += run * (run - 1) * (2 * run + 5)
          run = 1L
        }
        j += 1
      }
      val nL = n.toLong
      val s = nL * (nL - 1) / 2 - tiePairs - 2 * inv
      val varNum = nL * (nL - 1) * (2 * nL + 5) - cubic
      (nL, s, varNum)
    }
    val counted = df
      .filter(col(tsCol).isNotNull && col(tieCol).isNotNull &&
        col(valueCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(collect_list(struct(
        unix_micros(col(tsCol).cast("timestamp")),
        col(tieCol).cast("long"),
        unscaled(col(valueCol), valueScale))).as("__rows"))
      .withColumn("__c", walk(col("__rows")))
    val sD = col("__c._2").cast("double")
    val varS = col("__c._3").cast("double") / lit(18.0)
    val sd = when(varS > 0.0, sqrt(varS))
    val z = when(col("__c._2") > 0L, (sD - lit(1.0)) / sd)
      .when(col("__c._2") < 0L, (sD + lit(1.0)) / sd)
      .otherwise(lit(0.0))
    counted.select(keys.map(col) ++ Seq(
      col("__c._1").as("n"), col("__c._2").as("s"),
      col("__c._3").as("var_num"),
      when(varS > 0.0, z).as("z")): _*)
  }

  /**
   * Lag-1 Granger-causality F per key: does knowing x's PAST
   * improve a one-step forecast of y beyond y's own past? Compare
   * the restricted fit `yₜ ~ yₜ₋₁` with the unrestricted
   * `yₜ ~ yₜ₋₁ + xₜ₋₁`;
   * `F = (SSR_r − SSR_u) / (SSR_u/(n−3)) ≈ F(1, n−3)` under
   * no-improvement. Predictive precedence, not causation — but the
   * standard first screen for "is this signal worth wiring in".
   *
   * Engine-exact: both series snap to the grid; lagged pairs ride
   * one key exchange; all 2-regressor moments are exact DECIMAL
   * sums in ONE closing aggregation; SSR_r closes in the
   * [[chowTest]] chain and SSR_u in the pinned 2×2 normal-equation
   * form `Syy − (S₂₂Sy₁² − 2S₁₂Sy₁Sx₁ + S₁₁Sx₁²)/det`. Keys with
   * n < 4, a singular design (det ≤ 0), or zero residual variance
   * emit null F.
   *
   * Output: (keys…, n, ssr_restricted, ssr_unrestricted, f_granger).
   *
   * Scale posture: one key exchange (the lags), ONE map-side
   * closing aggregation. Same DECIMAL(38) envelope as
   * [[pearsonMatrix]].
   */
  def grangerF(df: DataFrame, keys: Seq[String], tsCol: String,
               tieCol: String, yCol: String, xCol: String,
               scale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "grangerF needs key columns")
    import org.apache.spark.sql.expressions.Window
    val t = s"decimal(18,$scale)"
    val pt = s"decimal(38,${2 * scale})"
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val rows = df
      .filter(col(tsCol).isNotNull && col(tieCol).isNotNull &&
        col(yCol).isNotNull && col(xCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__y", col(yCol).cast(t))
      .withColumn("__x", col(xCol).cast(t))
      .withColumn("__y1", lag(col("__y"), 1).over(ord))
      .withColumn("__x1", lag(col("__x"), 1).over(ord))
      .filter(col("__y1").isNotNull && col("__x1").isNotNull)
    val y = col("__y"); val y1 = col("__y1"); val x1 = col("__x1")
    val m = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(y).as("__sy"), sum(y1).as("__sy1"), sum(x1).as("__sx1"),
        sum((y * y).cast(pt)).as("__syy"),
        sum((y1 * y1).cast(pt)).as("__s11"),
        sum((x1 * x1).cast(pt)).as("__s22"),
        sum((y * y1).cast(pt)).as("__sy1y"),
        sum((y * x1).cast(pt)).as("__sx1y"),
        sum((y1 * x1).cast(pt)).as("__s12"))
    val nD = col("n").cast("double")
    val sy = col("__sy").cast("double")
    val sy1 = col("__sy1").cast("double")
    val sx1 = col("__sx1").cast("double")
    val cyy = col("__syy").cast("double") - sy * sy / nD
    val c11 = col("__s11").cast("double") - sy1 * sy1 / nD
    val c22 = col("__s22").cast("double") - sx1 * sx1 / nD
    val cy1 = col("__sy1y").cast("double") - sy * sy1 / nD
    val cx1 = col("__sx1y").cast("double") - sy * sx1 / nD
    val c12 = col("__s12").cast("double") - sy1 * sx1 / nD
    val ssrR = cyy - cy1 * cy1 / when(c11 > 0.0, c11)
    val det = c11 * c22 - c12 * c12
    val ssrU = cyy - (c22 * cy1 * cy1 - lit(2.0) * c12 * cy1 * cx1 +
      c11 * cx1 * cx1) / when(det > 0.0, det)
    val f = (ssrR - ssrU) /
      when(ssrU > 0.0 && nD > 3.0, ssrU / (nD - lit(3.0)))
    val ok = col("n") >= 4L && c11 > 0.0 && det > 0.0
    m.select(keys.map(col) ++ Seq(col("n"),
      when(ok, ssrR).as("ssr_restricted"),
      when(ok, ssrU).as("ssr_unrestricted"),
      when(ok && ssrU > 0.0, f).as("f_granger")): _*)
  }

  /**
   * Cochran-Mantel-Haenszel test per key — exposure→outcome
   * association CONTROLLING for a stratifying confounder: the
   * 2×2-per-stratum answer to "is the effect real, or is the
   * stratum driving both?" ([[partialCorr]]'s categorical sibling,
   * [[oddsRatio]]'s confounder-adjusted upgrade; Simpson's-paradox
   * insurance). Per stratum i with cells (aᵢ, bᵢ, cᵢ, dᵢ):
   * `χ²_CMH = (Σaᵢ − ΣEᵢ)² / ΣVᵢ` with the hypergeometric
   * `Eᵢ = (aᵢ+bᵢ)(aᵢ+cᵢ)/nᵢ`,
   * `Vᵢ = (aᵢ+bᵢ)(cᵢ+dᵢ)(aᵢ+cᵢ)(bᵢ+dᵢ)/(nᵢ²(nᵢ−1))`, plus the
   * Mantel-Haenszel pooled odds ratio
   * `OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ)`.
   *
   * Engine-exact: stratum cells are exact integers from ONE
   * (keys, stratum) map-side collapse; E/V/OR terms fold
   * SEQUENTIALLY in stratum order with neutral zeros for nᵢ < 2
   * strata (the no-nulls-in-folds rule); both closings are pinned.
   * Keys with ΣV ≤ 0 null the χ²; Σ(bc/n) = 0 nulls OR_MH.
   *
   * Output: (keys…, n_strata, sum_a, expected_a, variance,
   * cmh_chi2, or_mh).
   *
   * Scale posture: cell collapse, key collapse, stratum-grid fold
   * — the [[bartlett]] shape.
   */
  def cmhTest(df: DataFrame, keys: Seq[String], stratumCol: String,
              exposedCol: String, outcomeCol: String): DataFrame = {
    require(keys.nonEmpty, "cmhTest needs key columns")
    val ex = col(exposedCol).cast("boolean")
    val oc = col(outcomeCol).cast("boolean")
    val cells = df
      .filter(ex.isNotNull && oc.isNotNull &&
        col(stratumCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ col(stratumCol): _*)
      .agg(sum(when(ex && oc, 1L).otherwise(0L)).as("__a"),
        sum(when(ex && !oc, 1L).otherwise(0L)).as("__b"),
        sum(when(!ex && oc, 1L).otherwise(0L)).as("__c"),
        sum(when(!ex && !oc, 1L).otherwise(0L)).as("__d"))
    // state [Σa, ΣE, ΣV, Σad/n, Σbc/n, strata]
    val fold = aggregate(
      sort_array(collect_list(struct(col(stratumCol).as("__s"),
        col("__a").cast("double").as("__pa"),
        col("__b").cast("double").as("__pb"),
        col("__c").cast("double").as("__pc"),
        col("__d").cast("double").as("__pd")))),
      array(lit(0.0), lit(0.0), lit(0.0), lit(0.0), lit(0.0),
        lit(0.0)),
      (acc, p) => {
        val a = p.getField("__pa"); val b = p.getField("__pb")
        val c = p.getField("__pc"); val dd = p.getField("__pd")
        val n = a + b + c + dd
        val ok = n > 1.0
        val nn = when(ok, n).otherwise(lit(1.0))
        val nm1 = when(ok, n - lit(1.0)).otherwise(lit(1.0))
        val e = when(ok, (a + b) * (a + c) / nn).otherwise(lit(0.0))
        val v = when(ok, (a + b) * (c + dd) * (a + c) * (b + dd) /
          (nn * nn * nm1)).otherwise(lit(0.0))
        val adn = when(ok, a * dd / nn).otherwise(lit(0.0))
        val bcn = when(ok, b * c / nn).otherwise(lit(0.0))
        array(element_at(acc, 1) + when(ok, a).otherwise(lit(0.0)),
          element_at(acc, 2) + e, element_at(acc, 3) + v,
          element_at(acc, 4) + adn, element_at(acc, 5) + bcn,
          element_at(acc, 6) + lit(1.0))
      })
    val m = (i: Int) => element_at(col("__m"), i)
    val chi = (m(1) - m(2)) * (m(1) - m(2)) / when(m(3) > 0.0, m(3))
    val orMh = m(4) / when(m(5) > 0.0, m(5))
    cells.groupBy(keys.map(col): _*).agg(fold.as("__m"))
      .select(keys.map(col) ++ Seq(
        m(6).cast("long").as("n_strata"),
        m(1).cast("long").as("sum_a"), m(2).as("expected_a"),
        m(3).as("variance"),
        when(m(3) > 0.0, chi).as("cmh_chi2"),
        when(m(5) > 0.0, orMh).as("or_mh")): _*)
  }

  /**
   * Page's trend test per key — [[friedman]]'s ORDERED-alternative
   * sibling: when the treatments have a natural order (dose levels,
   * model sizes, week numbers), test for a MONOTONE trend in the
   * within-block ranks instead of any-difference:
   * `L = Σⱼ j·Rⱼ` over treatments in their sort order, with the
   * normal approximation `E[L] = nk(k+1)²/4`,
   * `Var[L] = nk²(k+1)²(k−1)/144` (average ranks under ties make
   * this slightly conservative — documented; [[friedman]] is the
   * tie-robust any-difference fallback).
   *
   * Pinned semantics: [[friedman]]'s grid exactly — the
   * [[completeBlocks]] cells, treatment order j = the dense rank,
   * DOUBLED within-block ranks — so `L₂ = Σ j·R₂ⱼ = 2L` is an exact
   * long and the z closing is one pinned chain on the doubled
   * moments `E₂ = nk(k+1)²/2`, `Var₂ = nk²(k+1)²(k−1)/36`. Keys with
   * k < 2 emit a row with null z.
   *
   * Output: (keys…, n_blocks, k_treatments, l_stat, z) — l_stat on
   * the ½ grid; z > 0 = ranks rise with treatment order.
   *
   * Scale posture: identical to [[friedman]] — one cell collapse,
   * one key exchange, map-side treatment collapse.
   */
  def pageTrend(df: DataFrame, keys: Seq[String], blockCol: String,
                treatCol: String, valueCol: String,
                valueScale: Int = 2): DataFrame = {
    val ranked = completeBlocks("pageTrend", df, keys, blockCol, treatCol,
      col(valueCol), sum(unscaled(col(valueCol), valueScale)))
      .withColumn("__r2",
        doubledMidrank(keys.map(col) :+ col(blockCol), col("__vc")))
    val treatCells = ranked.groupBy(keys.map(col) :+ col(treatCol): _*)
      .agg(max(col("__dr")).cast("long").as("__j"),
        count(lit(1)).as("__n"), sum(col("__r2")).as("__R2"))
    val agg = treatCells.groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("n_blocks"),
        count(lit(1)).as("k_treatments"),
        sum(col("__j") * col("__R2")).as("__l2"))
    val nD = col("n_blocks").cast("double")
    val kD = col("k_treatments").cast("double")
    val kp1 = kD + lit(1.0)
    val e2 = nD * kD * kp1 * kp1 / lit(2.0)
    val v2 = nD * kD * kD * kp1 * kp1 * (kD - lit(1.0)) / lit(36.0)
    val z = (col("__l2").cast("double") - e2) /
      when(v2 > 0.0, sqrt(v2))
    agg.select(keys.map(col) ++ Seq(col("n_blocks"),
      col("k_treatments"),
      (col("__l2").cast("double") / lit(2.0)).as("l_stat"),
      when(col("k_treatments") >= 2L && col("n_blocks") > 0L &&
        v2 > 0.0, z).as("z")): _*)
  }

  /**
   * Jonckheere-Terpstra test per key — the ORDERED k-group trend
   * test on a CONTINUOUS response ([[cochranArmitage]] covers the
   * binary case; [[kruskalWallis]] ignores the ordering): with
   * groups in their natural order (dose, size tier),
   * `JT = Σ_{g<h} #{xᵢ∈g, xⱼ∈h : xᵢ < xⱼ}` (+½ per cross-group
   * tie), large JT = the response rises with the group order.
   * Normal approximation `E = (N² − Σn_g²)/4`,
   * `Var = (N²(2N+3) − Σn_g²(2n_g+3))/72` (untied-variance form —
   * slight conservatism under heavy ties, documented).
   *
   * Engine-exact: values snap to the grid; each key's items sort by
   * (group, value) IN the executor and JT counts by merging each
   * group against the accumulated earlier-group sorted run with
   * binary searches (O(n log n), exact longs on the DOUBLED grid so
   * ½-ties stay integral); `4·JT − 4E` and the 72-scaled variance
   * numerator are exact longs and z closes in one pinned chain.
   * Keys with < 2 groups or zero variance emit null z.
   *
   * Output: (keys…, n, k_groups, jt, z) — jt on the ½ grid.
   *
   * Scale posture: ONE group exchange into collect_list; per-key
   * memory = key size (the [[kendallTau]] per-slice contract).
   */
  def jonckheereTerpstra(df: DataFrame, keys: Seq[String],
                         groupCol: String, valueCol: String,
                         valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "jonckheereTerpstra needs key columns")
    val walk = udf { rows: Seq[org.apache.spark.sql.Row] =>
      val n = rows.length
      val items = rows.map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(identity).toArray
      // group sizes in group order
      val sizes = scala.collection.mutable.ArrayBuffer[Long]()
      var jt2 = 0L // doubled JT: 2 per strict win, 1 per tie
      val prev = new Array[Long](n) // sorted earlier-group values
      var pn = 0
      var i = 0
      while (i < n) {
        val g = items(i)._1
        var j = i
        while (j < n && items(j)._1 == g) j += 1
        sizes += (j - i).toLong
        var t = i
        while (t < j) {
          val v = items(t)._2
          // lower bound: first prev index with value >= v
          var lo = 0; var hi = pn
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (prev(mid) < v) lo = mid + 1 else hi = mid
          }
          val less = lo
          var lo2 = lo; var hi2 = pn
          while (lo2 < hi2) {
            val mid = (lo2 + hi2) >>> 1
            if (prev(mid) <= v) lo2 = mid + 1 else hi2 = mid
          }
          jt2 += 2L * less + (lo2 - less)
          t += 1
        }
        // merge this group's (already sorted) values into prev
        var a = pn - 1; var b = j - 1; var o = pn + (j - i) - 1
        while (b >= i) {
          if (a >= 0 && prev(a) > items(b)._2) {
            prev(o) = prev(a); a -= 1
          } else { prev(o) = items(b)._2; b -= 1 }
          o -= 1
        }
        pn += j - i
        i = j
      }
      val nL = n.toLong
      val sumSq = sizes.map(s => s * s).sum
      val e4 = nL * nL - sumSq
      val diff4 = 2L * jt2 - e4
      val varNum = nL * nL * (2 * nL + 3) -
        sizes.map(s => s * s * (2 * s + 3)).sum
      (nL, sizes.length.toLong, jt2, diff4, varNum)
    }
    val counted = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(collect_list(struct(col(groupCol).cast("long"),
        unscaled(col(valueCol), valueScale))).as("__rows"))
      .withColumn("__c", walk(col("__rows")))
    val varS = col("__c._5").cast("double") / lit(72.0)
    val z = col("__c._4").cast("double") / lit(4.0) /
      when(varS > 0.0, sqrt(varS))
    counted.select(keys.map(col) ++ Seq(
      col("__c._1").as("n"), col("__c._2").as("k_groups"),
      (col("__c._3").cast("double") / lit(2.0)).as("jt"),
      when(col("__c._2") >= 2L && varS > 0.0, z).as("z")): _*)
  }

  /**
   * Ordinal-association panel per key — the full concordance
   * scorecard from ONE pass of [[kendallTau]]'s exact counts:
   * Goodman-Kruskal gamma `(P−Q)/(P+Q)` (ties ignored — the
   * headline number for ordered contingency), Somers'
   * `D_yx = S/(n₀−n₁)` (y the response — penalizes x-ties only;
   * THE statistic behind the ROC Gini = D_yx of score vs label)
   * and `D_xy = S/(n₀−n₂)`, alongside tau-b.
   *
   * Engine-exact: all counts are [[kendallTau]]'s exact longs;
   * each closing is one pinned division. Degenerate denominators
   * (all pairs tied on the relevant margin) null their statistic.
   *
   * Output: (keys…, n, s, tau_b, gamma, somers_dyx, somers_dxy).
   */
  def ordinalAssociation(df: DataFrame, keys: Seq[String],
                         xCol: String, yCol: String, xScale: Int = 2,
                         yScale: Int = 2): DataFrame = {
    val k = kendallTau(df, keys, xCol, yCol, xScale, yScale)
    val sD = col("s").cast("double")
    val pq = col("s") + lit(2L) * col("discordant") // P + Q
    val dyxDen = col("n0") - col("n1")
    val dxyDen = col("n0") - col("n2")
    k.select(keys.map(col) ++ Seq(col("n"), col("s"), col("tau_b"),
      (sD / when(pq > 0L, pq.cast("double"))).as("gamma"),
      (sD / when(dyxDen > 0L, dyxDen.cast("double")))
        .as("somers_dyx"),
      (sD / when(dxyDen > 0L, dxyDen.cast("double")))
        .as("somers_dxy")): _*)
  }

  /**
   * Fisher's exact test per key — the 2×2 association test with NO
   * approximation: the exact hypergeometric tail, valid at any
   * cell size (the χ² family lies below ~5 expected per cell;
   * [[oddsRatio]]'s Wald CI needs all cells > 0 — this needs
   * nothing). Two-sided p sums all tables as-or-less-probable than
   * the observed one (the R convention, with the standard 1+1e-7
   * relative tolerance on the probability comparison); p_greater is
   * the one-sided enrichment tail — the Fisher form used by every
   * gene-set/feature-enrichment pipeline.
   *
   * Engine-exact in a stronger sense than the χ² gates: the
   * hypergeometric pmf is built by the RATIO RECURRENCE from the
   * closed-form mode `⌊(r₁+1)(c₁+1)/(n+2)⌋` (never a factorial,
   * never lgamma — whose libm implementations differ across
   * engines), every step one pinned `f·(int·int)/(int·int)` chain
   * on exact integer products, and the tail sums fold in k order —
   * an ANSI engine replays the identical IEEE sequence via a
   * recursive walk, so even the EXACT p-value hash-matches. Far
   * tails underflow to 0 identically on both sides.
   *
   * Output: (keys…, n, a, b, c, d, p_two_sided, p_greater).
   *
   * Scale posture: ONE map-side-combined aggregation to the 2×2
   * cells; the per-key walk is O(min(r₁,c₁)) TIME AND MEMORY in the
   * executor (the pmf support is materialized), so the support is
   * HARD-CAPPED at `maxExactMargin` (default 10⁷ ≈ 80 MB per key,
   * transient): a key whose smaller margin exceeds the cap fails
   * with a clear message pointing at [[cramersV]] (which carries the
   * table's χ²) / [[twoProportionZ]] —
   * at that n the normal approximation is indistinguishable from
   * exact and costs O(1). The cap also keeps the support size
   * safely inside Int (no silent `(kmax-kmin+1).toInt` overflow for
   * margins past 2³¹). Envelope: margin products must stay exact as
   * doubles — r₁·c₁ < 2⁵³ (any realistic table).
   */
  def fisherExact(df: DataFrame, keys: Seq[String],
                  exposedCol: String, outcomeCol: String,
                  maxExactMargin: Long = 10000000L): DataFrame = {
    require(keys.nonEmpty, "fisherExact needs key columns")
    require(maxExactMargin >= 1L && maxExactMargin <= Int.MaxValue - 2L,
      s"maxExactMargin must be in [1, 2^31-3], got $maxExactMargin")
    val capB = maxExactMargin
    val walk = udf { (a: Long, b: Long, c: Long, dd: Long) =>
      val r1 = a + b; val c1 = a + c; val n = a + b + c + dd
      val kmin = math.max(0L, r1 + c1 - n)
      val kmax = math.min(r1, c1)
      if (kmax - kmin >= capB)
        throw new IllegalArgumentException(
          s"fisherExact: pmf support ${kmax - kmin + 1} (≈ the smaller " +
            s"margin, min(r1,c1) = ${math.min(r1, c1)}) exceeds " +
            s"maxExactMargin = $capB — the exact walk would allocate " +
            "that many doubles in one executor cell. At this n the " +
            "exact test is numerically identical to the normal " +
            "approximation: use Stats.cramersV (chi2) or " +
            "Stats.twoProportionZ, " +
            "or raise maxExactMargin deliberately.")
      var kstar = (r1 + 1) * (c1 + 1) / (n + 2)
      if (kstar < kmin) kstar = kmin
      if (kstar > kmax) kstar = kmax
      val size = (kmax - kmin + 1).toInt
      val f = new Array[Double](size)
      f((kstar - kmin).toInt) = 1.0
      var k = kstar
      while (k < kmax) {
        val fk = f((k - kmin).toInt)
        f((k + 1 - kmin).toInt) = fk * ((r1 - k) * (c1 - k)).toDouble /
          ((k + 1) * (n - r1 - c1 + k + 1)).toDouble
        k += 1
      }
      k = kstar
      while (k > kmin) {
        val fk = f((k - kmin).toInt)
        f((k - 1 - kmin).toInt) = fk * (k * (n - r1 - c1 + k)).toDouble /
          ((r1 - k + 1) * (c1 - k + 1)).toDouble
        k -= 1
      }
      var total = 0.0
      var i = 0
      while (i < size) { total += f(i); i += 1 }
      val fobs = f((a - kmin).toInt)
      val thresh = fobs * (1.0 + 1e-7)
      var p2 = 0.0; var pg = 0.0
      i = 0
      while (i < size) {
        if (f(i) <= thresh) p2 += f(i)
        if (kmin + i >= a) pg += f(i)
        i += 1
      }
      (p2 / total, pg / total)
    }
    val ex = col(exposedCol).cast("boolean")
    val oc = col(outcomeCol).cast("boolean")
    val cells = df
      .filter(ex.isNotNull && oc.isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(sum(when(ex && oc, 1L).otherwise(0L)).as("a"),
        sum(when(ex && !oc, 1L).otherwise(0L)).as("b"),
        sum(when(!ex && oc, 1L).otherwise(0L)).as("c"),
        sum(when(!ex && !oc, 1L).otherwise(0L)).as("d"))
      .withColumn("__p", walk(col("a"), col("b"), col("c"), col("d")))
    cells.select(keys.map(col) ++ Seq(
      (col("a") + col("b") + col("c") + col("d")).as("n"),
      col("a"), col("b"), col("c"), col("d"),
      col("__p._1").as("p_two_sided"),
      col("__p._2").as("p_greater")): _*)
  }

  /**
   * Cliff's delta per key — the EFFECT SIZE for [[mannWhitneyU]]
   * (the same pairing [[cohensD]] gives [[welchT]]): the probability
   * a random A-value beats a random B-value, minus the reverse —
   * `δ = 2U_A/(n_A·n_B) − 1 ∈ [−1, 1]`, with U on the tie-splitting
   * average-rank convention (ties contribute ½). Report δ NEXT TO
   * the U test's p-value: significance says "real", δ says "big
   * enough to care" (|δ| ≳ 0.33 medium, ≳ 0.47 large by the
   * standard thresholds).
   *
   * Engine-exact: U_A is [[mannWhitneyU]]'s exact half-integer (its
   * doubled-rank machinery); δ closes in ONE pinned chain. Keys
   * with an empty arm emit null.
   *
   * Output: (keys…, n_a, n_b, u_a, delta).
   */
  def cliffsDelta(df: DataFrame, keys: Seq[String], groupCol: String,
                  aLabel: String, bLabel: String, valueCol: String,
                  valueScale: Int = 2): DataFrame =
    twoSample("cliffsDelta", cliffsClosing, keepNullKeys = true, df,
      keys, groupCol, aLabel, bLabel, valueCol, valueScale)

  /**
   * 1-Wasserstein (earth mover) distance per key between two arms'
   * value distributions — [[ksTest]] reports the LARGEST CDF gap,
   * this reports the AREA between the CDFs, in the value's own
   * units: the drift score that answers "how far did the metric
   * move", not just "did its shape change". The standard
   * distribution-shift distance for monitoring (training-vs-serving
   * feature drift, A/B metric shift) because it is robust to
   * binning and has units.
   *
   * Exact integer formulation on the pooled 10⁻ˢᶜᵃˡᵉ grid:
   * `W₁ = Σᵢ |cumAᵢ·n_b − cumBᵢ·n_a| · (vᵢ₊₁ − vᵢ) / (n_a·n_b·10ˢ)`
   * — every per-row term is a product of exact longs accumulated in
   * DECIMAL(38,0) (ORDER-FREE integer sum, no float fold), and the
   * closing is a pinned two-division chain. Empty arms emit null.
   *
   * Output: (keys…, n_a, n_b, w1).
   *
   * Envelope: Σ gap·dv ≤ n_a·n_b·range·10ˢ must fit DECIMAL(38) —
   * arms of 10⁹ rows each with a 10⁹-unit grid range still leave
   * headroom. Oracle note: the exact decimal sum must route to
   * double via VARCHAR in DuckDB (the q351 HUGEINT double-rounding
   * lesson).
   *
   * Scale posture: one map-side-combined collapse to the (keys,
   * value) grid; ONE key exchange carries the CDF windows, the arm
   * totals, the lead(), and the closing aggregate — the [[ksTest]]
   * shape exactly.
   */
  def wasserstein1(df: DataFrame, keys: Seq[String], groupCol: String,
                   aLabel: String, bLabel: String, valueCol: String,
                   valueScale: Int = 2): DataFrame =
    twoSample("wasserstein1", w1Closing(valueScale), keepNullKeys = false, df,
      keys, groupCol, aLabel, bLabel, valueCol, valueScale)

  /**
   * Kendall's coefficient of concordance (W) per key — HOW MUCH do
   * n raters agree on the ranking of k items (0 = no agreement, 1 =
   * identical rankings): the agreement EFFECT SIZE to [[friedman]]'s
   * p-value (`χ²_F = n(k−1)·W`), the standard inter-annotator
   * concordance score for eval panels ranking model outputs.
   *
   * Pinned semantics: [[friedman]]'s grid verbatim — the
   * [[completeBlocks]] cells with raters as blocks and items as
   * treatments (a rater's score for an item is the exact grid SUM of
   * its rows; only complete raters score), within-rater average
   * ranks as DOUBLED exact longs ([[doubledMidrank]]). The
   * tie-corrected closing uses `12ΣR² = 3ΣR₂²` (doubling cancels
   * exactly):
   * `W = 3·(ΣR₂ⱼ² − n²k(k+1)²) / (n²k(k²−1) − n·ΣT)` with the
   * per-rater tie term `T = Σ(t³−t)` ([[withTieCubes]]) — every
   * moment an exact integer, ONE pinned division. Keys with k < 2 or
   * a zero denominator (every rater all-tied) emit a row with null
   * w.
   *
   * Output: (keys…, n_raters, k_items, tie_sum, w).
   *
   * Scale posture: the [[completeBlocks]] exchange also carries the
   * within-rater rank windows (same-key subsumption), then two grid
   * collapses — shuffled bytes scale with raters×items per key, not
   * rows.
   */
  def kendallsW(df: DataFrame, keys: Seq[String], raterCol: String,
                itemCol: String, valueCol: String,
                valueScale: Int = 2): DataFrame = {
    val rCols = keys.map(col) :+ col(raterCol)
    val ranked = completeBlocks("kendallsW", df, keys, raterCol, itemCol,
      col(valueCol), sum(unscaled(col(valueCol), valueScale)))
      .withColumn("__r2", doubledMidrank(rCols, col("__vc")))
      .transform(withTieCubes(rCols, col("__vc"), col(itemCol)))
    val perItem = ranked.groupBy(keys.map(col) :+ col(itemCol): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__r2")).as("__R2"),
        sum(col("__tc")).as("__tt"))
    val agg = perItem.groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("n_raters"),
        count(lit(1)).as("k_items"),
        sum((col("__R2").cast("decimal(18,0)") *
          col("__R2").cast("decimal(18,0)"))).as("__sr2"),
        sum(col("__tt")).as("tie_sum"))
    val nD = col("n_raters").cast("double")
    val kD = col("k_items").cast("double")
    val kp1 = kD + lit(1.0)
    val num = lit(3.0) *
      (col("__sr2").cast("double") - nD * nD * kD * kp1 * kp1)
    val den = nD * nD * kD * (kD * kD - lit(1.0)) -
      nD * col("tie_sum").cast("double")
    agg.select(keys.map(col) ++ Seq(col("n_raters"), col("k_items"),
      col("tie_sum"),
      when(col("k_items") >= 2L && den > 0.0, num / den).as("w")): _*)
  }

  /**
   * Holm-Bonferroni step-down FWER control per family —
   * [[benjaminiHochberg]]'s stricter sibling: controls the
   * FAMILY-WISE error rate (probability of ANY false rejection),
   * the guard for confirmatory decision sets (ship/no-ship gates)
   * where even one false positive is expensive; BH's FDR contract
   * is for exploratory screens. Uniformly more powerful than plain
   * Bonferroni at the same guarantee.
   *
   * `p_adj(k) = min(1, max over j ≤ k of (m−j+1)·p(j))` over tests
   * ranked by p ascending — the running max makes the step-down
   * monotone, so `significant = p_adj ≤ alpha` reproduces the
   * classic sequential-rejection rule exactly. The rank tie-breaks
   * on `idCol` (must be unique per family), `(m−j+1)·p` is one
   * pinned product, and the running max is order-independent. Null
   * p's are excluded (no test, no discovery).
   *
   * Output: input keys + (id, p, rank, p_adj, significant).
   *
   * Scale posture: both windows (count, rank + running max) share
   * ONE family-keyed exchange — the [[benjaminiHochberg]] shape;
   * with empty `keys` the family sorts in one partition (fine to
   * ~10⁷ tests; shard into families past that).
   */
  def holmBonferroni(df: DataFrame, keys: Seq[String], idCol: String,
                     pCol: String, alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    val wk = Window.partitionBy(keys.map(col): _*)
    val wAsc = wk.orderBy(col(pCol).asc, col(idCol).asc)
    val wRun = wAsc.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    df.filter(col(pCol).isNotNull)
      .withColumn("rank", row_number().over(wAsc).cast("long"))
      .withColumn("__m", count(lit(1)).over(wk))
      .withColumn("__raw",
        d(col("__m") - col("rank") + lit(1L)) * col(pCol).cast("double"))
      .withColumn("p_adj", least(lit(1.0), max(col("__raw")).over(wRun)))
      .withColumn("significant", col("p_adj") <= alpha)
      .drop("__m", "__raw")
  }

  /**
   * Cohen's h per key — the effect size for TWO PROPORTIONS (the
   * pairing [[twoProportionZ]] needs the way [[cohensD]] pairs with
   * [[welchT]]): `h = 2·asin(√p₁) − 2·asin(√p₂)` on the arcsine
   * (variance-stabilizing) scale, so the same |h| means the same
   * detectability at any baseline rate — the number power
   * calculators actually take (|h| ≳ 0.2 small, 0.5 medium, 0.8
   * large).
   *
   * Engine-exact: cell counts are exact integers and each
   * proportion is ONE pinned division; the two arcsines — the only
   * transcendentals — are snapped to the 10⁻⁹ grid before the
   * closing subtraction (the [[oddsRatio]] log discipline: sqrt is
   * correctly rounded IEEE everywhere, asin is libm-consistent to
   * ~1 ulp and the snap drives residual mismatch below ~1e-10).
   * Empty arms emit null h.
   *
   * Output: (keys…, n_1, n_2, p_1, p_2, h).
   *
   * Scale posture: ONE map-side-combined aggregation to four cells
   * per key; the closing is a projection.
   */
  def cohensH(df: DataFrame, keys: Seq[String], groupCol: String,
              aLabel: String, bLabel: String,
              outcomeCol: String): DataFrame = {
    require(keys.nonEmpty, "cohensH needs key columns")
    val oc = col(outcomeCol).cast("boolean")
    val m = df
      .filter(oc.isNotNull &&
        (col(groupCol) === aLabel || col(groupCol) === bLabel) &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(sum(when(col(groupCol) === aLabel, 1L).otherwise(0L))
        .as("n_1"),
        sum(when(col(groupCol) === aLabel && oc, 1L).otherwise(0L))
          .as("__x1"),
        sum(when(col(groupCol) === bLabel, 1L).otherwise(0L)).as("n_2"),
        sum(when(col(groupCol) === bLabel && oc, 1L).otherwise(0L))
          .as("__x2"))
    val p1 = d(col("__x1")) / d(col("n_1"))
    val p2 = d(col("__x2")) / d(col("n_2"))
    val phi1 = round(asin(sqrt(p1)), 9)
    val phi2 = round(asin(sqrt(p2)), 9)
    m.select(keys.map(col) ++ Seq(col("n_1"), col("n_2"),
      when(col("n_1") > 0L, p1).as("p_1"),
      when(col("n_2") > 0L, p2).as("p_2"),
      when(col("n_1") > 0L && col("n_2") > 0L,
        lit(2.0) * phi1 - lit(2.0) * phi2).as("h")): _*)
  }

  /**
   * Risk ratio, risk difference, and number-needed-to-treat per key
   * — the ABSOLUTE-scale companions to [[oddsRatio]] (which reports
   * the odds scale): from the 2×2 (exposed × outcome) cells,
   * `RR = p₁/p₀`, `RD = p₁ − p₀`, `NNT = 1/|RD|` — the "how many
   * users must see the variant for one extra conversion" number
   * product decisions actually run on, with Wald 95% CIs (the RR's
   * in LOG space, the [[oddsRatio]] convention; the RD's in
   * absolute space).
   *
   * Engine-exact: integer cells, pinned division chains;
   * `ln(RR)` is the libm-consistent log snapped to the 10⁻⁹ grid;
   * `se_{ln RR} = √(1/a − 1/(a+b) + 1/c − 1/(c+d))` and
   * `se_{RD} = √(p₁(1−p₁)/n₁ + p₀(1−p₀)/n₀)` close in fixed
   * left-to-right chains. Zero-cell guards: RR needs both arms
   * non-empty and c > 0; the log CI additionally needs a > 0; NNT
   * needs RD ≠ 0. Failing guards null the statistic, never smooth
   * it (the [[oddsRatio]] contract).
   *
   * Output: (keys…, a, b, c, d, risk_ratio, log_rr, log_rr_lo,
   * log_rr_hi, risk_diff, rd_lo, rd_hi, nnt).
   *
   * Scale posture: ONE map-side-combined aggregation to four cells
   * per key; everything after is a projection.
   */
  def riskRatio(df: DataFrame, keys: Seq[String], exposedCol: String,
                outcomeCol: String): DataFrame = {
    require(keys.nonEmpty, "riskRatio needs key columns")
    val e = col(exposedCol).cast("boolean")
    val y = col(outcomeCol).cast("boolean")
    val m = df.filter(e.isNotNull && y.isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(sum(when(e && y, 1L).otherwise(0L)).as("a"),
        sum(when(e && !y, 1L).otherwise(0L)).as("b"),
        sum(when(!e && y, 1L).otherwise(0L)).as("c"),
        sum(when(!e && !y, 1L).otherwise(0L)).as("d"))
    val n1 = col("a") + col("b"); val n0 = col("c") + col("d")
    val p1 = d(col("a")) / d(n1); val p0 = d(col("c")) / d(n0)
    val okRr = n1 > 0L && n0 > 0L && col("c") > 0L
    val okLog = okRr && col("a") > 0L
    val rr = p1 / p0
    val logRr = round(graft.functions.MathFunctions.libmLog(rr), 9)
    val seLog = sqrt(lit(1.0) / d(col("a")) - lit(1.0) / d(n1) +
      lit(1.0) / d(col("c")) - lit(1.0) / d(n0))
    val rd = p1 - p0
    val seRd = sqrt(p1 * (lit(1.0) - p1) / d(n1) +
      p0 * (lit(1.0) - p0) / d(n0))
    val okRd = n1 > 0L && n0 > 0L
    m.select(keys.map(col) ++ Seq(col("a"), col("b"), col("c"),
      col("d"),
      when(okRr, rr).as("risk_ratio"),
      when(okLog, logRr).as("log_rr"),
      when(okLog, logRr - lit(1.96) * seLog).as("log_rr_lo"),
      when(okLog, logRr + lit(1.96) * seLog).as("log_rr_hi"),
      when(okRd, rd).as("risk_diff"),
      when(okRd, rd - lit(1.96) * seRd).as("rd_lo"),
      when(okRd, rd + lit(1.96) * seRd).as("rd_hi"),
      when(okRd && rd =!= 0.0, lit(1.0) / abs(rd)).as("nnt")): _*)
  }

  /**
   * Atkinson inequality index per key at inequality-aversion
   * ε = 1/2 — the welfare-theoretic member of the concentration
   * panel ([[gini]] rank-based, [[theilIndex]] entropy-based, this
   * one utility-based): "what fraction of total mass could be
   * discarded if it were distributed EQUALLY, at equal welfare".
   * At ε = 1/2 the index collapses to the closed form
   * `A = 1 − (Σ√x)² / (n·Σx)` — no powers, no logs.
   *
   * Engine-exact: values snap to the cents grid (the grid factor
   * cancels between numerator and denominator); the only
   * non-integer per-row term is `√v` — correctly rounded IEEE in
   * every engine — and `Σ c·√v` folds SEQUENTIALLY in value order
   * over the (keys, value) grid (≡ list_reduce, the [[logRank]]
   * fold discipline), so the double sum is order-pinned. Σx and n
   * are exact integers; the closing is one pinned chain. Null and
   * negative values are excluded (the [[gini]] contract; zeros
   * count — a zero holding is maximal inequality information).
   * Zero total mass emits null.
   *
   * Output: (keys…, n, atkinson).
   *
   * Scale posture: one map-side-combined collapse to the (keys,
   * value) grid, ONE key exchange, grid-bounded fold state (one
   * double).
   */
  def atkinson(df: DataFrame, keys: Seq[String], valueCol: String,
               valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "atkinson needs key columns")
    val v = unscaled(col(valueCol), valueScale)
    val grid = df
      .filter(col(valueCol).isNotNull && col(valueCol) >= 0 &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ v.as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val fold = aggregate(
      sort_array(collect_list(struct(col("__v").as("__t"),
        col("__c").cast("double").as("__cd")))),
      lit(0.0),
      (acc, p) => acc + p.getField("__cd") *
        sqrt(p.getField("__t").cast("double")))
    val m = grid.groupBy(keys.map(col): _*)
      .agg(sum(col("__c")).as("n"), sum(col("__v") * col("__c")).as("__s"),
        fold.as("__r"))
    m.select(keys.map(col) ++ Seq(col("n"),
      when(col("__s") > 0L,
        lit(1.0) - col("__r") * col("__r") /
          (d(col("n")) * d(col("__s")))).as("atkinson")): _*)
  }

  /**
   * Two-sample Cramér–von Mises statistic per key — the
   * WHOLE-CURVE distribution comparison: [[ksTest]] scores the
   * single worst CDF gap, [[wasserstein1]] the area in value
   * units; CvM integrates the SQUARED gap over the pooled
   * empirical measure, making it sensitive to many small
   * departures (tails + center together) where KS sees only the
   * peak. `T = U/(nm(n+m)) − (4nm−1)/(6(n+m))` with
   * `U = n·Σᵢ(rᵢ−i)² + m·Σⱼ(sⱼ−j)²` over midranks of each arm in
   * the pooled ordering.
   *
   * Exact integer formulation on the (keys, value) grid — NO
   * per-row ranking: for a grid row with tie count t, pooled
   * DOUBLED midrank `r₂ = 2·prevN + t + 1`, and the arm's c
   * members occupy positions `prevC+1 … prevC+c`, so the row's
   * contribution to `12Σ(r−i)²` is the closed form
   * `3cK² − 6K·c(c+1) + 2c(c+1)(2c+1)` (tripled to stay pure
   * integer) with `K = r₂ − 2·prevC`
   * — an exact long per row, summed order-free in DECIMAL(38,0).
   * The closing is one pinned chain over exact totals. Empty arms
   * emit null t.
   *
   * Output: (keys…, n_a, n_b, t).
   *
   * Envelope: n·S₄ ≲ 4·N⁴ must stay < 2⁵³ for the exact double
   * closing — pooled arms to ~3·10⁴ rows per key; past that the
   * raw DECIMAL columns upstream are still exact.
   *
   * Scale posture: one map-side-combined grid collapse, ONE key
   * exchange carrying the three cumulative windows and the closing
   * aggregate — the [[ksTest]] shape.
   */
  def cramerVonMises(df: DataFrame, keys: Seq[String],
                     groupCol: String, aLabel: String, bLabel: String,
                     valueCol: String, valueScale: Int = 2): DataFrame =
    twoSample("cramerVonMises", cvmClosing, keepNullKeys = false, df,
      keys, groupCol, aLabel, bLabel, valueCol, valueScale)

  /**
   * Two-sample Anderson-Darling statistic per key (the
   * Scholz-Stephens k-sample A²ₐₖₙ with k = 2, midrank/ties
   * version — the scipy `anderson_ksamp` convention) — the
   * TAIL-WEIGHTED member of the drift panel: [[ksTest]] sees the
   * biggest CDF gap, [[cramerVonMises]] the average squared gap;
   * AD divides each gap by `F(1−F)`, so movement in the tails —
   * where CDFs are pinned near 0/1 and KS/CvM are blind — carries
   * full weight. The right alarm for "the p99 moved".
   *
   * Exact-grid formulation: on the pooled value grid, pooled
   * midranks and per-arm midcounts ride DOUBLED (`B₂ = 2·prevN + l`,
   * `M₂ = 2·prevArm + f` — no per-row ranking), and each grid row's
   * inner term `(l/N)·(N·M − B·n)²/(B(N−B) − N·l/4)` reduces to the
   * ratio of EXACT integers `l·(N·M₂ − B₂·n)² / (N·(B₂(2N−B₂) −
   * N·l))` — numerator and denominator carried in DECIMAL(38,0)
   * (exact to N ≈ 10⁹: the square is ≤ 4N⁴), ONE pinned division
   * per (row, arm). Terms fold in ASCENDING grid order (an ANSI
   * engine replays the fold as an ordered-list reduce);
   * `A² = (S_a/n_a + S_b/n_b)·(N−1)/N` closes the pinned chain.
   * Keys with an empty arm or a single-point grid (the degenerate
   * 0/0 case) emit null.
   *
   * Output: (keys…, n_a, n_b, a2) — compare against the
   * Scholz-Stephens critical values (≈ 1.96/2.49/3.25/4.59 at
   * 10/5/2.5/1%, k = 2).
   *
   * Scale posture: one map-side grid collapse, ONE key exchange for
   * the cumulative windows, one in-group ordered fold whose array
   * is the key's DISTINCT-value grid (the [[macd]] per-key array
   * contract — coarsen `valueScale` for continuous heavy keys; the
   * estimator is grid-precision anyway).
   */
  def andersonDarling(df: DataFrame, keys: Seq[String],
                      groupCol: String, aLabel: String, bLabel: String,
                      valueCol: String, valueScale: Int = 2): DataFrame =
    twoSample("andersonDarling", adClosing, keepNullKeys = false, df,
      keys, groupCol, aLabel, bLabel, valueCol, valueScale)

  /**
   * Kuiper two-sample statistic per key — [[ksTest]]'s
   * rotation-robust sibling: `V = D⁺ + D⁻` (the largest gap ABOVE
   * plus the largest gap BELOW between the two CDFs). Where KS
   * concentrates power at the median, V weights tails and center
   * equally and is invariant to cyclic shifts — the right test for
   * hour-of-day / day-of-week style distributions where "shape
   * moved around the circle" must not hide.
   *
   * Exact integer formulation: on the pooled grid,
   * `D⁺ = max(0, max cumA·n_b − cumB·n_a)` and `D⁻` its mirror —
   * both exact longs on the [[ksTest]] cross-multiplied lattice;
   * `V = (D⁺ + D⁻)/(n_a·n_b)` is one pinned division. Empty arms
   * emit null v.
   *
   * Output: (keys…, n_a, n_b, v_plus_num, v_minus_num, v).
   *
   * Scale posture: identical to [[ksTest]] — one grid collapse, one
   * key exchange, closing max aggregates.
   */
  def kuiper(df: DataFrame, keys: Seq[String], groupCol: String,
             aLabel: String, bLabel: String, valueCol: String,
             valueScale: Int = 2): DataFrame =
    twoSample("kuiper", kuiperClosing, keepNullKeys = false, df,
      keys, groupCol, aLabel, bLabel, valueCol, valueScale)

  /**
   * The whole two-sample drift panel in ONE pass: [[ksTest]] (max
   * CDF gap), [[cramerVonMises]] (mean squared gap),
   * [[andersonDarling]] (tail-weighted gap), [[kuiper]] (D⁺ + D⁻,
   * rotation-robust) and [[wasserstein1]] (area between CDFs — how
   * FAR mass moved) — five alarms, one scan.
   *
   * All five statistics are functions of the SAME pooled per-value
   * grid and the SAME per-key cumulative windows; run separately
   * they cost five corpus scans and five grid exchanges of
   * identical bytes. This panel builds the grid ONCE (one map-side
   * collapse), exchanges it ONCE (one key partitioning carries
   * every cumulative window), and aggregates the five members'
   * closings in one pass. The single operators are built from the
   * same private grid kernel and the same closings, so each panel
   * column is bit-identical to its operator's by construction
   * (pinned in StatsSpec), at one fifth the I/O.
   *
   * Output: (keys…, n_a, n_b, ks_d, cvm_t, ad_a2, kuiper_v, w1) —
   * null statistic columns under each member's own degenerate-input
   * contract (empty arm; single-point grid for ad_a2). Keys are
   * required and rows with a null key are dropped (where the
   * standalone [[ksTest]] groups them as one key); `aLabel` must
   * differ from `bLabel`.
   *
   * Scale posture: one map-side grid collapse, ONE key exchange
   * carrying all cumulative windows, per-key closing aggregates;
   * the one in-group ordered fold (AD's ascending-grid sum) is
   * grid-sized — the [[macd]] per-key array contract; coarsen
   * `valueScale` for continuous heavy keys.
   */
  def driftPanel(df: DataFrame, keys: Seq[String], groupCol: String,
                 aLabel: String, bLabel: String, valueCol: String,
                 valueScale: Int = 2): DataFrame = {
    val grid = twoSampleGrid("driftPanel", df, keys, groupCol, aLabel,
      bLabel, valueCol, valueScale, keepNullKeys = false)
    val (ks, cvm, ad, ku, w1) = (ksClosing, cvmClosing, adClosing,
      kuiperClosing, w1Closing(valueScale))
    closeGrid(grid, keys, Seq(ks, cvm, ad, ku, w1), Seq(
      ks.out("d").as("ks_d"), cvm.out("t").as("cvm_t"),
      ad.out("a2").as("ad_a2"), ku.out("v").as("kuiper_v"),
      w1.out("w1").as("w1")))
  }

  /**
   * The whole two-sample LOCATION panel in ONE pass — the rank-test
   * sibling of [[driftPanel]]: [[mannWhitneyU]] (tie-corrected
   * rank-sum z), [[cliffsDelta]] (the ordinal effect SIZE the z
   * lacks) and [[brunnerMunzel]] (the heteroscedastic form whose
   * p-values survive unequal spread) — three answers to "did the
   * metric move, and by how much", one scan.
   *
   * All three statistics are functions of the SAME pooled doubled
   * midranks: MWU's doubled average rank `2·cum − c + 1` IS
   * Brunner-Munzel's `R₂ = 2·prevN + t + 1`, and Cliff's
   * `δ = 2U/(n_a·n_b) − 1` closes over MWU's U — so the panel
   * builds the (keys, value) grid ONCE, exchanges it ONCE (one key
   * partitioning carries every cumulative window), and aggregates
   * the three members' closings in one pass; the doubled rank sum
   * they share is computed once. The single operators are built
   * from the same private grid kernel and the same closings, so
   * each panel column is bit-identical to its operator's by
   * construction (pinned in StatsSpec), at one third the I/O.
   *
   * Output: (keys…, n_a, n_b, u_a, u_b, z, delta, p_hat, w, df) —
   * each member's own degenerate-input contract carried: an empty
   * arm nulls everything; all-tied data nulls z (σ² = 0) and w/df
   * (zero placement variance) but keeps δ = 0 and p̂ = ½; arms
   * under 2 null w/df only. One contract difference from the
   * standalone [[mannWhitneyU]] and [[cliffsDelta]]: keys are
   * required and rows with null KEYS are excluded here (the
   * [[brunnerMunzel]]/[[driftPanel]] convention) rather than
   * grouped under a null key. `aLabel` must differ from `bLabel`.
   *
   * Scale posture: one map-side grid collapse, ONE key exchange
   * carrying all cumulative windows, one closing aggregate — the
   * [[ksTest]] shape; grid-sized bytes shuffle, never rows.
   */
  def rankPanel(df: DataFrame, keys: Seq[String], groupCol: String,
                aLabel: String, bLabel: String, valueCol: String,
                valueScale: Int = 2): DataFrame = {
    val grid = twoSampleGrid("rankPanel", df, keys, groupCol, aLabel,
      bLabel, valueCol, valueScale, keepNullKeys = false)
    val members = Seq(mwuClosing, cliffsClosing, bmClosing)
    closeGrid(grid, keys, members, outColumns(members: _*))
  }

  /**
   * One-dimensional energy distance per key between two arms —
   * the moment-free distribution distance behind energy tests:
   * `E = 2·E|X−Y| − E|X−X'| − E|Y−Y'|` (zero iff the
   * distributions coincide; metric, unlike KS it scales with HOW
   * FAR mass moved, like [[wasserstein1]] but quadratic-kernel so
   * it composes into the energy two-sample test statistic
   * `nm/(n+m)·E`).
   *
   * Exact integer formulation — in 1-D every pairwise-distance
   * expectation is a CDF integral: on the pooled grid with segment
   * width `dv`, `Σ|x−y| = Σ dv·(cumA·(n_b−cumB) + cumB·(n_a−cumA))`
   * and `Σ|x−x'|` (unordered) `= Σ dv·cumA·(n_a−cumA)` — each term
   * a product of exact longs accumulated ORDER-FREE in
   * DECIMAL(38,0); the closing is one pinned chain over the three
   * sums, divided back to value units. Empty arms emit null.
   *
   * Output: (keys…, n_a, n_b, energy).
   *
   * Oracle note: the exact decimal sums route to double via
   * VARCHAR in DuckDB (the q351 HUGEINT double-rounding lesson).
   *
   * Scale posture: the [[wasserstein1]] plan exactly — one grid
   * collapse, ONE key exchange carrying the CDF windows and lead,
   * closing aggregate.
   */
  def energyDistance(df: DataFrame, keys: Seq[String],
                     groupCol: String, aLabel: String, bLabel: String,
                     valueCol: String, valueScale: Int = 2): DataFrame =
    twoSample("energyDistance", energyClosing(valueScale), keepNullKeys = false, df,
      keys, groupCol, aLabel, bLabel, valueCol, valueScale)

  /**
   * Lorenz curve per key — the table behind [[gini]]'s single
   * number: rank units ascending by mass and report, at each of
   * `buckets` equal-COUNT cuts, the cumulative share of total mass
   * the bottom ranks hold ("the bottom 80% of documents carry 31%
   * of the tokens"). [[liftTable]]'s exact integer bucket cut
   * (`⌊(r−1)·k/n⌋+1` — no ntile) on ascending order.
   *
   * Engine-exact: mass snaps to the cents grid; bucket membership
   * counts are fixed by rank arithmetic, and tied values are EQUAL
   * values, so every bucket's mass sum is order-invariant no
   * matter how the engine breaks rank ties. Cumulative mass and
   * total are exact integers; `cum_share` is one pinned division.
   * Null and negative values are excluded (the [[gini]] contract).
   *
   * Output: (keys…, bucket, n, cum_n, cum_mass, cum_share) — one
   * row per non-empty bucket, cum_mass in input units.
   *
   * Scale posture: ONE key exchange carries the rank window; the
   * bucket collapse is map-side; the cumulative runs on the
   * buckets-per-key grid.
   */
  def lorenzCurve(df: DataFrame, keys: Seq[String], valueCol: String,
                  buckets: Int = 10, valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "lorenzCurve needs key columns")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val v = unscaled(col(valueCol), valueScale)
    val wk = Window.partitionBy(keys.map(col): _*)
    val wo = wk.orderBy(col("__c"))
    val ranked = df
      .filter(col(valueCol).isNotNull && col(valueCol) >= 0 &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .select(keys.map(col) :+ v.as("__c"): _*)
      .withColumn("__r", row_number().over(wo))
      .withColumn("__n", count(lit(1)).over(wk))
      // floor of a < 2^53 exact double product: both engines floor
      // the same correctly-rounded quotient (the liftTable idiom)
      .withColumn("bucket",
        floor(((col("__r") - 1L) * lit(buckets.toLong)).cast("double") /
          col("__n").cast("double")).cast("long") + 1L)
    val bucketed = ranked
      .groupBy(keys.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n"), sum(col("__c")).as("__m"))
    val wb = Window.partitionBy(keys.map(col): _*).orderBy(col("bucket"))
    val scaleF = math.pow(10, valueScale)
    val cum = bucketed
      .withColumn("cum_n", sum(col("n")).over(wb))
      .withColumn("__cm", sum(col("__m")).over(wb))
      .withColumn("__tot",
        sum(col("__m")).over(Window.partitionBy(keys.map(col): _*)))
    cum.select(keys.map(col) ++ Seq(col("bucket"), col("n"),
      col("cum_n"), (d(col("__cm")) / lit(scaleF)).as("cum_mass"),
      when(col("__tot") > 0L, d(col("__cm")) / d(col("__tot")))
        .as("cum_share")): _*)
  }

  /**
   * Gehan-Wilcoxon test per key — [[logRank]]'s EARLY-difference
   * sibling: the same two-group censored-survival comparison, but
   * each event time is weighted by the pooled at-risk count `n_t`,
   * so departures EARLY in the curve (when everyone is still at
   * risk) dominate — the test to run when early churn/failure is
   * what matters and late-tail noise shouldn't drown it. Report
   * next to [[logRank]] (proportional-hazards-optimal): both
   * significant = robust difference; only one = the curves cross
   * or the difference is time-localized.
   *
   * Pinned semantics: [[logRank]]'s grid verbatim — exact per-time
   * cells, window at-risk counts, time-order fold — with
   * `W = Σ n_t·(d₁ₜ − Eₜ)` and `Var = Σ n_t²·Vₜ` accumulated in the
   * same fold ([[logRank]]'s E-at-every-event-time and V-degeneracy
   * rules carried over); `χ² = W²/Var ≈ χ²(1)`. Keys with zero
   * variance emit null chi2.
   *
   * Output: (keys…, n_events_1, n_events_0, w_stat, chi2).
   *
   * Scale posture: identical to [[logRank]] — one (keys, group,
   * time) collapse, one key exchange, grid fold.
   */
  def gehanWilcoxon(df: DataFrame, keys: Seq[String], groupCol: String,
                    durationCol: String, eventCol: String,
                    valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "gehanWilcoxon needs key columns")
    import org.apache.spark.sql.expressions.Window
    val t = unscaled(col(durationCol), valueScale)
    val g1 = col(groupCol).cast("boolean")
    val ev = col(eventCol).cast("boolean")
    val cells = df
      .filter(col(durationCol).isNotNull && g1.isNotNull &&
        ev.isNotNull && keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ t.as("__t"): _*)
      .agg(sum(when(g1 && ev, 1L).otherwise(0L)).as("__d1"),
        sum(when(!g1 && ev, 1L).otherwise(0L)).as("__d0"),
        sum(when(g1, 1L).otherwise(0L)).as("__c1"),
        sum(when(!g1, 1L).otherwise(0L)).as("__c0"))
    val wKey = Window.partitionBy(keys.map(col): _*)
    val wPre = Window.partitionBy(keys.map(col): _*).orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val grid = cells
      .withColumn("__T1", sum(col("__c1")).over(wKey))
      .withColumn("__T0", sum(col("__c0")).over(wKey))
      .withColumn("__n1",
        col("__T1") - coalesce(sum(col("__c1")).over(wPre), lit(0L)))
      .withColumn("__n0",
        col("__T0") - coalesce(sum(col("__c0")).over(wPre), lit(0L)))
    val fold = aggregate(
      sort_array(collect_list(struct(col("__t").as("__tt"),
        col("__d1").cast("double").as("__e1"),
        (col("__d1") + col("__d0")).cast("double").as("__dd"),
        col("__n1").cast("double").as("__m1"),
        (col("__n1") + col("__n0")).cast("double").as("__mm")))),
      array(lit(0.0), lit(0.0)),
      (acc, p) => {
        val okE = p.getField("__dd") > 0.0
        val okV = p.getField("__mm") > 1.0 && okE
        val nn = when(okE, p.getField("__mm")).otherwise(lit(1.0))
        val nm1 = when(okV, p.getField("__mm") - lit(1.0))
          .otherwise(lit(1.0))
        val share = p.getField("__m1") / nn
        val wObsE = when(okE, p.getField("__mm") *
          (p.getField("__e1") - share * p.getField("__dd")))
          .otherwise(lit(0.0))
        val w2v = when(okV, p.getField("__mm") * p.getField("__mm") *
          (p.getField("__dd") * share * (lit(1.0) - share) *
            (p.getField("__mm") - p.getField("__dd")) / nm1))
          .otherwise(lit(0.0))
        array(element_at(acc, 1) + wObsE, element_at(acc, 2) + w2v)
      })
    val agg = grid.groupBy(keys.map(col): _*)
      .agg(sum(col("__d1")).as("n_events_1"),
        sum(col("__d0")).as("n_events_0"), fold.as("__m"))
    val ws = element_at(col("__m"), 1)
    val vv = element_at(col("__m"), 2)
    agg.select(keys.map(col) ++ Seq(col("n_events_1"),
      col("n_events_0"), ws.as("w_stat"),
      when(vv > 0.0, ws * ws / when(vv > 0.0, vv)).as("chi2")): _*)
  }

  /**
   * Distribution-distance panel per key between two arms over the
   * exact value grid — three bounded [0, 1] distances with
   * complementary sensitivities, closing the drift family
   * ([[ksTest]] worst gap, [[kuiper]] both gaps, [[wasserstein1]]
   * value-unit area, [[cramerVonMises]] squared curve, this panel
   * pointwise): `tv` total variation `½Σ|p−q|` (the largest
   * probability any event's mass can differ by), `overlap`
   * `Σ min(p,q)` (the shared mass, = 1 − tv on a common grid),
   * `bc` Bhattacharyya `Σ√(pq)` and `hellinger` `√(1−BC)` (the
   * geometric middle ground, differentiable where tv is not).
   *
   * Engine-exact: tv and overlap never touch a float until ONE
   * closing division each — `Σ|c_a·n_b − c_b·n_a|` and
   * `Σ min(c_a·n_b, c_b·n_a)` are exact longs on the [[ksTest]]
   * cross-multiplied lattice. BC's per-row `√(c_a·c_b)` (correctly
   * rounded IEEE) folds SEQUENTIALLY in value order (≡ list_reduce)
   * and closes `/√(n_a·n_b)`; hellinger = `√max(0, 1−bc)` (the
   * clamp absorbs the one-ulp overshoot of a perfect match). Empty
   * arms emit nulls.
   *
   * Output: (keys…, n_a, n_b, tv, overlap, bc, hellinger).
   *
   * Scale posture: one map-side grid collapse, ONE key exchange
   * (totals windows + ordered fold), closing projection — the
   * [[ksTest]] shape.
   */
  def distributionDistance(df: DataFrame, keys: Seq[String],
                           groupCol: String, aLabel: String,
                           bLabel: String, valueCol: String,
                           valueScale: Int = 2): DataFrame =
    twoSample("distributionDistance", distanceClosing, keepNullKeys = false, df,
      keys, groupCol, aLabel, bLabel, valueCol, valueScale)

  /**
   * Hodges-Lehmann shift estimator per key — the VALUE-UNIT effect
   * size for [[mannWhitneyU]] (δ = [[cliffsDelta]] is unitless; HL
   * answers "by HOW MUCH is arm A shifted"): the median of all
   * n_a·n_b pairwise differences `aᵢ − bⱼ`, the robust alternative
   * to mean-difference that one outlier can't move.
   *
   * Exact formulation without materializing pairs: both arms
   * collapse to their value GRIDS, the per-key grid×grid join
   * enumerates DISTINCT differences with exact pair weights
   * `c_a·c_b`, and the weighted median reads off the cumulative
   * weight window with the standard even-total midpoint convention
   * (`lower` = smallest diff with cum ≥ ⌈W/2⌉, `upper` = smallest
   * with cum ≥ ⌊W/2⌋+1, HL = (lower+upper)/2) — all exact integers
   * until the final halving. Empty arms emit null.
   *
   * Output: (keys…, n_a, n_b, n_pairs, hl_shift).
   *
   * Envelope (MEASURED, r18 probe): the joined relation is
   * |grid_a|·|grid_b| rows PER KEY and the cost is quadratic in the
   * per-arm grid — 1.56·10⁶ products/key ran 1.4 s on 8 cores,
   * 10⁸/key ran 105 s, 4·10⁸/key ran 773 s. The join is therefore
   * HARD-CAPPED at `maxPairProduct` (default 10⁸): a key whose grid
   * product exceeds the cap fails with a clear message naming the
   * fix — coarsen `valueScale` (the estimator is grid-precision
   * anyway, and coarsening shrinks the product QUADRATICALLY) or
   * raise the cap deliberately. Bounded value grids (cents with
   * bounded range) never hit it: the r18 probe's 5k-distinct regime
   * at 64× the gate rows ran 4.6 s flat-heap.
   *
   * Scale posture: two map-side grid collapses, one key-equi join
   * (never cartesian — keys are the join key) whose per-side grid
   * counts ride the SAME key partitioning (exchange reuse), one
   * difference-grid collapse, ONE key exchange for the cumulative
   * window + closing.
   */
  def hodgesLehmann(df: DataFrame, keys: Seq[String], groupCol: String,
                    aLabel: String, bLabel: String, valueCol: String,
                    valueScale: Int = 2,
                    maxPairProduct: Long = 100000000L): DataFrame = {
    require(keys.nonEmpty, "hodgesLehmann needs key columns")
    require(maxPairProduct >= 1L,
      s"maxPairProduct must be >= 1, got $maxPairProduct")
    import org.apache.spark.sql.expressions.Window
    val wk = Window.partitionBy(keys.map(col): _*)
    val base = df
      .filter(col(valueCol).isNotNull &&
        (col(groupCol) === aLabel || col(groupCol) === bLabel) &&
        keys.map(col(_).isNotNull).reduce(_ && _))
    val ga = base.filter(col(groupCol) === aLabel)
      .groupBy(keys.map(col) :+
        unscaled(col(valueCol), valueScale).as("__va"): _*)
      .agg(count(lit(1)).as("__ca"))
      .withColumn("__gna", count(lit(1)).over(wk))
    val gb = base.filter(col(groupCol) === bLabel)
      .groupBy(keys.map(col) :+
        unscaled(col(valueCol), valueScale).as("__vb"): _*)
      .agg(count(lit(1)).as("__cb"))
      .withColumn("__gnb", count(lit(1)).over(wk))
    // the guard product is taken in DECIMAL(38,0): per-arm grids above
    // ~3e9 would wrap a long product negative and silently disarm the
    // cap in exactly the pathological-scale regime it protects against
    val dec38 = "decimal(38,0)"
    val pairProduct =
      col("__gna").cast(dec38) * col("__gnb").cast(dec38)
    val diffs = ga.join(gb, keys)
      .withColumn("__d",
        when(pairProduct > lit(maxPairProduct).cast(dec38),
          raise_error(concat(
            lit("hodgesLehmann: per-key pair grid |grid_a|*|grid_b| = "),
            pairProduct.cast("string"),
            lit(s" exceeds maxPairProduct = $maxPairProduct — the " +
              "grid*grid join would enumerate that many rows for one " +
              "key (measured: 1e8 products = ~105 s on 8 cores, " +
              "quadratic beyond). Coarsen valueScale (the estimator " +
              "is grid-precision anyway; one digit shrinks the " +
              "product ~100x) or raise maxPairProduct deliberately."))))
          .otherwise(col("__va") - col("__vb")))
      .withColumn("__w", col("__ca") * col("__cb"))
      .groupBy(keys.map(col) :+ col("__d"): _*)
      .agg(sum(col("__w")).as("__w"))
    val wo = wk.orderBy(col("__d"))
    val stepped = diffs
      .withColumn("__cum", sum(col("__w")).over(wo))
      .withColumn("__W", sum(col("__w")).over(wk))
    val scaleF = math.pow(10, valueScale)
    val m = stepped.groupBy(keys.map(col): _*)
      .agg(max(col("__W")).as("n_pairs"),
        min(when(col("__cum") >= expr("(__W + 1) div 2"),
          col("__d"))).as("__lo"),
        min(when(col("__cum") >= expr("__W div 2") + lit(1L),
          col("__d"))).as("__hi"))
    val counts = base.groupBy(keys.map(col): _*)
      .agg(sum(when(col(groupCol) === aLabel, 1L).otherwise(0L))
        .as("n_a"),
        sum(when(col(groupCol) === bLabel, 1L).otherwise(0L)).as("n_b"))
    counts.join(m, keys, "left")
      .select(keys.map(col) ++ Seq(col("n_a"), col("n_b"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        when(col("n_a") >= 1L && col("n_b") >= 1L,
          (d(col("__lo")) + d(col("__hi"))) / lit(2.0) / lit(scaleF))
          .as("hl_shift")): _*)
  }

  /**
   * Quade test per key — [[friedman]]'s WEIGHTED sibling for
   * repeated measures: blocks with a larger within-block RANGE get
   * proportionally more say (a rater who actually discriminates
   * counts more than one who scored everything 3/5), making Quade
   * distinctly more powerful than Friedman at small k. Same
   * contract: the [[completeBlocks]] grid (rows sum into one value
   * per (block, treatment) cell; only complete blocks score).
   *
   * Pinned semantics: within-block treatment ranks AND across-block
   * range ranks both ride as DOUBLED exact longs (`2·rank_min+t−1`
   * midranks); block ranges are exact cent differences (max−min of
   * cell sums). The score `S_ij = Q_i·(r_ij − (k+1)/2)` carries
   * QUADRUPLED as the exact long `S₄ = Q₂·(r₂ − (k+1))`; treatment
   * totals `W₄ⱼ = Σᵢ S₄ᵢⱼ`, `A₁₆ = ΣS₄²`, `B₁₆ = ΣW₄²/n` (the 16s
   * cancel in F). Closing: `F = (n−1)·B/(A−B) ≈ F(k−1, (n−1)(k−1))`
   * — one pinned chain; A = B (perfectly consistent rankings) emits
   * null (the textbook "treat as F = ∞" case — decide upstream).
   * Keys with k < 2 emit null f.
   *
   * Output: (keys…, n_blocks, k_treatments, f).
   *
   * Scale posture: one (keys, block, treatment) collapse, ONE key
   * exchange carrying the completeness/range/rank windows, two grid
   * collapses — [[friedman]]'s plan with one extra window pass.
   */
  def quade(df: DataFrame, keys: Seq[String], blockCol: String,
            treatCol: String, valueCol: String,
            valueScale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blkCols = keys.map(col) :+ col(blockCol)
    val wBlk = Window.partitionBy(blkCols: _*)
    val complete = completeBlocks("quade", df, keys, blockCol, treatCol,
        col(valueCol), sum(unscaled(col(valueCol), valueScale)))
      .withColumn("__rng",
        max(col("__vc")).over(wBlk) - min(col("__vc")).over(wBlk))
    // doubled block ranks by range (midranks) — each block ranked
    // ONCE via its collapsed (key, block) range row
    val q2 = complete
      .groupBy(keys.map(col) :+ col(blockCol): _*)
      .agg(max(col("__rng")).as("__rng"))
      .withColumn("__q2r", doubledMidrank(keys.map(col), col("__rng")))
      .select(keys.map(col) :+ col(blockCol) :+ col("__q2r"): _*)
    val ranked = complete
      .withColumn("__r2", doubledMidrank(blkCols, col("__vc")))
      .join(q2, keys :+ blockCol)
      .withColumn("__s4",
        col("__q2r") * (col("__r2") - (col("__kk") + lit(1L))))
    val perTreat = ranked.groupBy(keys.map(col) :+ col(treatCol): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__s4")).as("__w4"),
        sum((col("__s4").cast("decimal(19,0)") *
          col("__s4").cast("decimal(19,0)")).cast("decimal(38,0)"))
          .as("__sq"))
    val agg = perTreat.groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("n_blocks"),
        count(lit(1)).as("k_treatments"),
        sum((col("__w4").cast("decimal(19,0)") *
          col("__w4").cast("decimal(19,0)")).cast("decimal(38,0)"))
          .as("__sw2"),
        sum(col("__sq")).as("__a16"))
    val nD = col("n_blocks").cast("double")
    val b16 = col("__sw2").cast("double") / nD
    val a16 = col("__a16").cast("double")
    agg.select(keys.map(col) ++ Seq(col("n_blocks"),
      col("k_treatments"),
      when(col("k_treatments") >= 2L && a16 - b16 > 0.0,
        (nD - lit(1.0)) * b16 / (a16 - b16)).as("f")): _*)
  }

  /**
   * Conover squared-ranks test per key — the RANK-BASED variance
   * comparison for two arms ([[brownForsythe]]/[[bartlett]] need
   * k-group means/normality; this needs neither): are the two arms
   * equally DISPERSED around their own centers? Deviations from
   * each arm's mean rank pooled, scores = rank², and the normal
   * approximation `z = (T − E)/√Var` on exact tie-robust moments.
   *
   * Exact-grid trick: the deviation `|x − x̄_g|` is not on the cent
   * grid (x̄ is a ratio), so both arms' deviations are CROSS-SCALED
   * to the common exact integer grid `|n_a·n_b·x − n_b·Σ_a|` /
   * `|n_a·n_b·y − n_a·Σ_b|` — same positive factor n_a·n_b on both,
   * so the pooled ranking is unchanged and every deviation is an
   * exact long. Ranks ride DOUBLED (midranks); scores are the exact
   * longs `R₂²`, so `T₄ = Σ_A R₂²`, `E₄ = n_a·ΣR₂²/N` and
   * `Var₄² = n_a·n_b·(N·ΣR₂⁴ − (ΣR₂²)²)/(N²(N−1))` close in one
   * pinned chain (the 4s cancel in z). Degenerate variance (all
   * deviations tied) emits null z.
   *
   * Output: (keys…, n_a, n_b, t4, z).
   *
   * Envelope: R₂⁴ ≤ (2N)⁴ must stay exact in DECIMAL(38) sums —
   * pooled arms to ~10⁸ rows per key. The cross-scaled deviations
   * ride DECIMAL(38,0) too (n_a·n_b·|v| overflows a long at ~3·10⁵
   * rows/arm of 10⁸-cent values — decimal keeps them exact to
   * 10³⁸, far past the R₂⁴ bound, and Spark nulls rather than
   * silently wraps beyond that).
   *
   * Scale posture: one cells collapse per arm (map-side), one
   * key exchange for the pooled rank windows, closing aggregate.
   */
  def conoverSquaredRanks(df: DataFrame, keys: Seq[String],
                          groupCol: String, aLabel: String,
                          bLabel: String, valueCol: String,
                          valueScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "conoverSquaredRanks needs key columns")
    import org.apache.spark.sql.expressions.Window
    val v = unscaled(col(valueCol), valueScale)
    val base = df
      .filter(col(valueCol).isNotNull &&
        (col(groupCol) === aLabel || col(groupCol) === bLabel) &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .select(keys.map(col) :+
        (col(groupCol) === aLabel).as("__a") :+ v.as("__v"): _*)
    val wKey = Window.partitionBy(keys.map(col): _*)
    val sums = base
      .withColumn("__na", sum(when(col("__a"), 1L).otherwise(0L))
        .over(wKey))
      .withColumn("__nb", sum(when(!col("__a"), 1L).otherwise(0L))
        .over(wKey))
      .withColumn("__sa", sum(when(col("__a"), col("__v"))
        .otherwise(0L).cast("decimal(38,0)")).over(wKey))
      .withColumn("__sb", sum(when(!col("__a"), col("__v"))
        .otherwise(0L).cast("decimal(38,0)")).over(wKey))
      // deviations in DECIMAL(38,0): the cross-scaled grid value
      // n_a·n_b·v can exceed 2^63 long before the R₂⁴ moment sums
      // are at risk (~3·10⁵ rows/arm of 10⁸-cent values already
      // does) — a silent long wrap here would corrupt the pooled
      // ranking with no error. Decimal keeps every deviation exact
      // to 10³⁸, past which Spark nulls rather than wraps.
      .withColumn("__dev",
        when(col("__a"),
          abs(col("__na").cast("decimal(19,0)") *
            col("__nb").cast("decimal(19,0)") *
            col("__v").cast("decimal(19,0)") -
            col("__nb").cast("decimal(19,0)") * col("__sa")))
          .otherwise(
            abs(col("__na").cast("decimal(19,0)") *
              col("__nb").cast("decimal(19,0)") *
              col("__v").cast("decimal(19,0)") -
              col("__na").cast("decimal(19,0)") * col("__sb"))))
    val ranked = sums
      .withColumn("__r2", doubledMidrank(keys.map(col), col("__dev")))
      .withColumn("__s", (col("__r2").cast("decimal(19,0)") *
        col("__r2").cast("decimal(19,0)")).cast("decimal(38,0)"))
    val agg = ranked.groupBy(keys.map(col): _*)
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        sum(when(col("__a"), col("__s"))).as("__t4"),
        sum(col("__s")).as("__ss"),
        sum((col("__s").cast("decimal(19,0)") *
          col("__s").cast("decimal(19,0)")).cast("decimal(38,0)"))
          .as("__sq"))
    val nD = d(col("n_a")); val mD = d(col("n_b"))
    val bigN = nD + mD
    val t4 = col("__t4").cast("double")
    val e4 = nD * col("__ss").cast("double") / bigN
    val var16 = nD * mD *
      (bigN * col("__sq").cast("double") -
        col("__ss").cast("double") * col("__ss").cast("double")) /
      (bigN * bigN * (bigN - lit(1.0)))
    agg.select(keys.map(col) ++ Seq(col("n_a"), col("n_b"),
      col("__t4").cast("double").as("t4"),
      when(col("n_a") >= 1L && col("n_b") >= 1L && var16 > 0.0,
        (t4 - e4) / sqrt(var16)).as("z")): _*)
  }

  /**
   * Two-sample Poisson rate test per key — are events arriving
   * FASTER in arm A than arm B, per unit of exposure? The
   * error-rate / incident-rate / defect-density comparison
   * ([[twoProportionZ]] compares fractions of trials; this compares
   * counts per exposure when there are no "trials"):
   * `z = (k₁/e₁ − k₂/e₂) / √(k₁/e₁² + k₂/e₂²)` (Wald on the rate
   * scale) plus the log-ratio CI `ln(r₁/r₂) ± 1.96·√(1/k₁+1/k₂)`.
   *
   * Engine-exact: event counts are exact longs, exposures exact
   * cents; every statistic is a fixed left-to-right chain of pinned
   * divisions (exposure's grid factor cancels in z's numerator and
   * denominator TOGETHER — both are computed on the unit scale);
   * `ln` is the libm-consistent log snapped to the 10⁻⁹ grid. Zero
   * exposure on either side nulls everything; the log CI needs both
   * counts > 0.
   *
   * Output: (keys…, k_1, exposure_1, k_2, exposure_2, rate_1,
   * rate_2, z, log_ratio, log_lo, log_hi).
   *
   * Scale posture: ONE map-side-combined aggregation; the closing
   * is a projection.
   */
  def poissonRateTest(df: DataFrame, keys: Seq[String],
                      groupCol: String, aLabel: String, bLabel: String,
                      eventsCol: String, exposureCol: String,
                      exposureScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "poissonRateTest needs key columns")
    val scaleF = math.pow(10, exposureScale)
    val m = df
      .filter(col(eventsCol).isNotNull && col(exposureCol).isNotNull &&
        (col(groupCol) === aLabel || col(groupCol) === bLabel) &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(sum(when(col(groupCol) === aLabel,
        col(eventsCol).cast("long")).otherwise(0L)).as("k_1"),
        sum(when(col(groupCol) === aLabel,
          unscaled(col(exposureCol), exposureScale)).otherwise(0L))
          .as("__e1"),
        sum(when(col(groupCol) === bLabel,
          col(eventsCol).cast("long")).otherwise(0L)).as("k_2"),
        sum(when(col(groupCol) === bLabel,
          unscaled(col(exposureCol), exposureScale)).otherwise(0L))
          .as("__e2"))
    val e1 = d(col("__e1")) / lit(scaleF)
    val e2 = d(col("__e2")) / lit(scaleF)
    val r1 = d(col("k_1")) / e1
    val r2 = d(col("k_2")) / e2
    val okZ = col("__e1") > 0L && col("__e2") > 0L
    val se = sqrt(d(col("k_1")) / (e1 * e1) + d(col("k_2")) / (e2 * e2))
    val okL = okZ && col("k_1") > 0L && col("k_2") > 0L
    val lr = round(graft.functions.MathFunctions.libmLog(r1 / r2), 9)
    val seL = sqrt(lit(1.0) / d(col("k_1")) + lit(1.0) / d(col("k_2")))
    m.select(keys.map(col) ++ Seq(col("k_1"), e1.as("exposure_1"),
      col("k_2"), e2.as("exposure_2"),
      when(col("__e1") > 0L, r1).as("rate_1"),
      when(col("__e2") > 0L, r2).as("rate_2"),
      when(okZ && se > 0.0, (r1 - r2) / se).as("z"),
      when(okL, lr).as("log_ratio"),
      when(okL, lr - lit(1.96) * seL).as("log_lo"),
      when(okL, lr + lit(1.96) * seL).as("log_hi")): _*)
  }

  /**
   * Capture-recapture (Chapman) population estimate per key — how
   * many DISTINCT items exist in total, given two independent
   * "captures" that each saw some of them? The coverage estimator
   * for corpus work: two crawls / two dedup passes / two retrieval
   * systems each surface ids; the overlap tells you how much you
   * have NOT seen. `N̂ = (n_a+1)(n_b+1)/(m+1) − 1` (Chapman's
   * bias-corrected Lincoln-Petersen; finite even at m = 0) with
   * `se = √((n_a+1)(n_b+1)(n_a−m)(n_b−m) / ((m+1)²(m+2)))`.
   *
   * Engine-exact: the (keys, id) collapse makes presence flags
   * exact; n_a, n_b, m are exact longs and both closings are fixed
   * pinned chains. Ids null are excluded.
   *
   * Output: (keys…, n_a, n_b, m_overlap, chapman_n, se).
   *
   * Scale posture: one map-side (keys, id) collapse with two max
   * flags, ONE closing aggregation — shuffled bytes scale with
   * distinct ids, not rows.
   */
  def captureRecapture(df: DataFrame, keys: Seq[String],
                       sourceCol: String, aLabel: String,
                       bLabel: String, idCol: String): DataFrame = {
    require(keys.nonEmpty, "captureRecapture needs key columns")
    val ids = df
      .filter(col(idCol).isNotNull &&
        (col(sourceCol) === aLabel || col(sourceCol) === bLabel) &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ col(idCol): _*)
      .agg(max(when(col(sourceCol) === aLabel, 1L).otherwise(0L))
        .as("__ia"),
        max(when(col(sourceCol) === bLabel, 1L).otherwise(0L))
          .as("__ib"))
    val m = ids.groupBy(keys.map(col): _*)
      .agg(sum(col("__ia")).as("n_a"), sum(col("__ib")).as("n_b"),
        sum(col("__ia") * col("__ib")).as("m_overlap"))
    val na1 = d(col("n_a")) + lit(1.0)
    val nb1 = d(col("n_b")) + lit(1.0)
    val m1 = d(col("m_overlap")) + lit(1.0)
    val chapman = na1 * nb1 / m1 - lit(1.0)
    val se = sqrt(na1 * nb1 *
      (d(col("n_a")) - d(col("m_overlap"))) *
      (d(col("n_b")) - d(col("m_overlap"))) /
      (m1 * m1 * (m1 + lit(1.0))))
    m.select(keys.map(col) ++ Seq(col("n_a"), col("n_b"),
      col("m_overlap"), chapman.as("chapman_n"), se.as("se")): _*)
  }

  /**
   * Chao1 richness estimate per key — how many DISTINCT items does
   * the population hold, including the ones this sample never saw?
   * The vocabulary/entity-coverage estimator (how many unique
   * n-grams/users/domains exist, not just how many appeared), from
   * the singleton/doubleton counts alone:
   * `Ŝ = S + f₁(f₁−1)/(2(f₂+1))` (the bias-corrected form, finite
   * at f₂ = 0), plus the Good-Turing UNSEEN MASS `p₀ = f₁/n` — the
   * probability the next observation is a never-seen item (the
   * "is this corpus saturated?" number).
   *
   * Engine-exact: the (keys, item) collapse gives exact occurrence
   * counts; S, f₁, f₂, n are exact longs and both closings are one
   * pinned chain each. Null items are excluded. Empty keys vanish
   * (no sample, no estimate).
   *
   * Output: (keys…, s_observed, n_total, f1, f2, chao1, unseen_mass).
   *
   * Scale posture: one map-side (keys, item) collapse, ONE closing
   * aggregation — the [[captureRecapture]] shape.
   */
  def chao1(df: DataFrame, keys: Seq[String],
            itemCol: String): DataFrame = {
    require(keys.nonEmpty, "chao1 needs key columns")
    val items = df
      .filter(col(itemCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+ col(itemCol): _*)
      .agg(count(lit(1)).as("__c"))
    val m = items.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("s_observed"), sum(col("__c")).as("n_total"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("__c") === 2L, 1L).otherwise(0L)).as("f2"))
    val f1 = d(col("f1"))
    val chao = d(col("s_observed")) +
      f1 * (f1 - lit(1.0)) / (lit(2.0) * (d(col("f2")) + lit(1.0)))
    m.select(keys.map(col) ++ Seq(col("s_observed"), col("n_total"),
      col("f1"), col("f2"), chao.as("chao1"),
      (f1 / d(col("n_total"))).as("unseen_mass")): _*)
  }

  /**
   * Brunner-Munzel test per key — the MODERN two-sample location
   * test: [[mannWhitneyU]] assumes equal variances under the null
   * (its p-values break when the arms have different spread —
   * exactly the case in most real experiments); Brunner-Munzel
   * drops that assumption the way [[welchT]] fixes Student's t.
   * Tests `P(X < Y) + ½P(X = Y) = ½` via rank PLACEMENTS, with a
   * Welch-Satterthwaite df.
   *
   * Exact-grid formulation: pooled and within-arm midranks ride
   * DOUBLED (the [[cramerVonMises]] grid — no per-row ranking:
   * every member of a grid row shares `R₂ = 2·prevN + t + 1` and
   * `Ra₂ = 2·prevA + c_a + 1`), so each placement `L₂ = R₂ − Ra₂`
   * is an exact long and ΣL₂ / ΣL₂² accumulate order-free in
   * DECIMAL. `S²_g = (ΣL₂² − (ΣL₂)²/n_g) / (4(n_g−1))`,
   * `W = n_a·n_b·(R̄_b − R̄_a) / (N·√(n_a·S²_a + n_b·S²_b))` (the
   * scipy convention), Satterthwaite
   * `df = (n_a·S²_a + n_b·S²_b)² / ((n_a·S²_a)²/(n_a−1) +
   * (n_b·S²_b)²/(n_b−1))` (the scipy/lawstat form — valid for
   * UNBALANCED arms, where the naive (S²_a/n_a + S²_b/n_b)-style
   * Welch expression diverges), `p̂ = (R̄_b − (n_b+1)/2)/n_a` —
   * pinned
   * chains over exact sums. Arms with < 2 members or zero placement
   * variance (complete separation) emit null w/df; p̂ survives.
   *
   * Output: (keys…, n_a, n_b, p_hat, w, df) — compare W against
   * t(df).
   *
   * Scale posture: ONE grid collapse + ONE key exchange (the
   * cumulative windows), closing aggregate — the [[ksTest]] shape.
   */
  def brunnerMunzel(df: DataFrame, keys: Seq[String], groupCol: String,
                    aLabel: String, bLabel: String, valueCol: String,
                    valueScale: Int = 2): DataFrame =
    twoSample("brunnerMunzel", bmClosing, keepNullKeys = false, df,
      keys, groupCol, aLabel, bLabel, valueCol, valueScale)

  /**
   * Two-proportion sample-size calculator per key — "how many users
   * per arm does the NEXT experiment need": from each key's
   * OBSERVED baseline rate and a target absolute lift `mde`,
   * `n/arm = (z_α·√(2p̄(1−p̄)) + z_β·√(p₁(1−p₁)+p₂(1−p₂)))² / mde²`
   * (the classic normal-approximation formula behind every power
   * calculator; defaults z_α = 1.959963985 two-sided 5%,
   * z_β = 0.841621234 for 80% power — pass your own for other
   * levels). The planning companion to [[twoProportionZ]]/
   * [[cohensH]]: run it over LAST quarter's keys to budget THIS
   * quarter's tests.
   *
   * Engine-exact: the baseline is one pinned division over exact
   * cells; the formula is a fixed left-to-right chain of pinned
   * IEEE ops (two sqrts, one square, one division) — no
   * transcendentals beyond sqrt. Keys whose target leaves (0,1) or
   * with an empty baseline emit null.
   *
   * Output: (keys…, n, p_base, p_target, n_per_arm).
   *
   * Scale posture: ONE map-side-combined aggregation; the closing
   * is a projection.
   */
  def sampleSizeTwoProportions(df: DataFrame, keys: Seq[String],
                               outcomeCol: String, mde: Double,
                               zAlpha: Double = 1.959963985,
                               zBeta: Double = 0.841621234): DataFrame = {
    require(keys.nonEmpty, "sampleSizeTwoProportions needs key columns")
    require(mde != 0.0, "mde must be non-zero")
    require(zAlpha > 0 && zBeta >= 0, "z quantiles must be positive")
    val y = col(outcomeCol).cast("boolean")
    val m = df.filter(y.isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(y, 1L).otherwise(0L)).as("__x"))
    val p1 = d(col("__x")) / d(col("n"))
    val p2 = p1 + lit(mde)
    val pbar = (p1 + p2) / lit(2.0)
    val num = lit(zAlpha) * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
      lit(zBeta) * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
    val nArm = num * num / lit(mde * mde)
    val ok = col("n") > 0L && p2 > 0.0 && p2 < 1.0
    m.select(keys.map(col) ++ Seq(col("n"),
      when(col("n") > 0L, p1).as("p_base"),
      when(ok, p2).as("p_target"),
      when(ok, nArm).as("n_per_arm")): _*)
  }

  /**
   * Qini / uplift curve per key — the evaluation table for UPLIFT
   * models ([[liftTable]] scores "who converts"; this scores "who
   * converts BECAUSE we treated them"): rows ranked by uplift score
   * descending are cut into `buckets` equal-frequency bins
   * ([[liftTable]]'s exact integer cut), and each cumulative prefix
   * reports the Qini increment
   * `qini = cum_rt − cum_rc·cum_nt/cum_nc` (incremental responders
   * vs the scaled control) and the uplift-rate difference
   * `uplift = cum_rt/cum_nt − cum_rc/cum_nc`. A model that targets
   * persuadables front-loads qini; random targeting walks the
   * diagonal.
   *
   * Engine-exact: treated/control counts and responders are exact
   * longs per bucket; the rank order is total via the required
   * unique `idCol` tie-break (the [[liftTable]] q207 discipline);
   * the closings are pinned division chains. Prefixes with an empty
   * treated or control arm emit null qini/uplift (no comparison
   * exists yet).
   *
   * Output: (keys…, bucket, n_t, r_t, n_c, r_c, cum_nt, cum_rt,
   * cum_nc, cum_rc, qini, uplift).
   *
   * Scale posture: ONE key exchange carries the rank window, the
   * bucket collapse (map-side), and the cumulative windows on the
   * buckets-per-key grid — the [[liftTable]] plan.
   */
  def qiniCurve(df: DataFrame, keys: Seq[String], scoreCol: String,
                idCol: String, treatedCol: String, outcomeCol: String,
                buckets: Int = 10): DataFrame = {
    require(keys.nonEmpty, "qiniCurve needs key columns")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val tr = col(treatedCol).cast("boolean")
    val y = col(outcomeCol).cast("boolean")
    val wk = Window.partitionBy(keys.map(col): _*)
    val ranked = df
      .filter(col(scoreCol).isNotNull && col(idCol).isNotNull &&
        tr.isNotNull && y.isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__r", row_number().over(
        wk.orderBy(col(scoreCol).desc, col(idCol).asc)))
      .withColumn("__n", count(lit(1)).over(wk))
    val num = (col("__r") - 1L) * lit(buckets.toLong)
    val bucket = ((num - pmod(num, col("__n"))) / col("__n"))
      .cast("long") + 1L
    val byBucket = ranked
      .groupBy(keys.map(col) :+ bucket.as("bucket"): _*)
      .agg(sum(when(tr, 1L).otherwise(0L)).as("n_t"),
        sum(when(tr && y, 1L).otherwise(0L)).as("r_t"),
        sum(when(!tr, 1L).otherwise(0L)).as("n_c"),
        sum(when(!tr && y, 1L).otherwise(0L)).as("r_c"))
    val wc = Window.partitionBy(keys.map(col): _*).orderBy(col("bucket"))
    val cum = byBucket
      .withColumn("cum_nt", sum(col("n_t")).over(wc))
      .withColumn("cum_rt", sum(col("r_t")).over(wc))
      .withColumn("cum_nc", sum(col("n_c")).over(wc))
      .withColumn("cum_rc", sum(col("r_c")).over(wc))
    val ok = col("cum_nt") > 0L && col("cum_nc") > 0L
    val qini = d(col("cum_rt")) -
      d(col("cum_rc")) * d(col("cum_nt")) / d(col("cum_nc"))
    val uplift = d(col("cum_rt")) / d(col("cum_nt")) -
      d(col("cum_rc")) / d(col("cum_nc"))
    cum.select(keys.map(col) ++ Seq(col("bucket"), col("n_t"),
      col("r_t"), col("n_c"), col("r_c"), col("cum_nt"), col("cum_rt"),
      col("cum_nc"), col("cum_rc"),
      when(ok, qini).as("qini"), when(ok, uplift).as("uplift")): _*)
  }

  /**
   * G-test (likelihood-ratio χ², Dunning's G²) per key — the
   * independence test for the SPARSE-count regime where Pearson's
   * χ² ([[cramersV]]'s numerator) misbehaves: `G = 2·Σ o·ln(o/e)`
   * over the r×c contingency grid. The statistic behind collocation
   * mining (Dunning 1993 — "surprising" token pairs), feature/label
   * dependence screens on rare categories, and model-vs-baseline
   * count comparisons; G ≈ χ²((r−1)(c−1)) under independence.
   *
   * Engine-exact: [[cramersV]]'s grid, [[contingencyFold]] — exact
   * integer cells over the FULL level grid (structural zeros
   * contribute exact 0 here, their natural G weight), expected
   * counts one pinned chain — with each term's `ln(o/e)` the
   * libm-consistent log snapped to the 10⁻⁹ grid, and the terms
   * folded in SORTED (a, b) cell order. Keys with a degenerate table
   * (single row/column level) emit null g2.
   *
   * Output: (keys…, n, r, c, g2).
   *
   * Scale posture: ONE full-data pass (map-side cell collapse);
   * margins/totals/fold all run on the |keys|·r·c cell relation.
   */
  def gTest(df: DataFrame, keys: Seq[String], aCol: String,
            bCol: String): DataFrame = {
    val folded = contingencyFold(df, keys, aCol, bCol, (o, e) =>
      when(o > 0L, lit(2.0) * d(o) *
        round(graft.functions.MathFunctions.libmLog(d(o) / e), 9))
        .otherwise(lit(0.0)))
    folded.select(keys.map(col) ++ Seq(col("n"), col("r"), col("c"),
      when(col("r") > 1L && col("c") > 1L, col("__s")).as("g2")): _*)
  }

  // ---- the shared rank and contingency kernels ----

  /**
   * The complete-block grid behind the repeated-measures tests
   * ([[friedman]], [[cochranQ]], [[cronbachAlpha]], [[pageTrend]],
   * [[kendallsW]], [[quade]]). Rows with a null `value`, block,
   * treatment or key drop; the rest collapse map-side to one cell per
   * (keys, block, treatment), `__vc` = `cell` over its rows. `__dr` is
   * the treatment's dense rank within its key, `__kk` the key-wide
   * treatment count k, and `__bc` the block's cell count. Only
   * COMPLETE blocks — those observed under all k treatments — survive
   * to rank or score, so a key with no complete block has no cells
   * left and VANISHES from the output (no row — left-join the key
   * universe back if explicit nulls are wanted). Keys are required.
   *
   * Scale posture: one (keys, block, treatment) map-side collapse,
   * then ONE key exchange carries the treatment-count and per-block
   * windows; the operators' own (keys, block) and (keys, treatment)
   * windows ride it too (same-key subsumption).
   */
  private def completeBlocks(op: String, df: DataFrame, keys: Seq[String],
                             blockCol: String, treatCol: String,
                             value: Column, cell: Column): DataFrame = {
    require(keys.nonEmpty, s"$op needs key columns")
    import org.apache.spark.sql.expressions.Window
    val kc = keys.map(col)
    df.filter(value.isNotNull && col(blockCol).isNotNull &&
        col(treatCol).isNotNull && kc.map(_.isNotNull).reduce(_ && _))
      .groupBy(kc :+ col(blockCol) :+ col(treatCol): _*)
      .agg(cell.as("__vc"))
      .withColumn("__dr",
        dense_rank().over(Window.partitionBy(kc: _*).orderBy(col(treatCol))))
      .withColumn("__kk", max(col("__dr")).over(Window.partitionBy(kc: _*)))
      .withColumn("__bc",
        count(lit(1)).over(Window.partitionBy(kc :+ col(blockCol): _*)))
      .filter(col("__bc") === col("__kk"))
  }

  /** The DOUBLED midrank `2·rank_min + t − 1` of `order` within
   *  `part`, t the size of the row's tie group: average ranks ride
   *  the half-integer grid, so doubling keeps them exact longs. */
  private def doubledMidrank(part: Seq[Column], order: Column): Column = {
    import org.apache.spark.sql.expressions.Window
    lit(2L) * rank().over(Window.partitionBy(part: _*).orderBy(order)) +
      count(lit(1)).over(Window.partitionBy(part :+ order: _*)) - 1L
  }

  /** Adds `__tc`, the tie term `t³ − t` of each (`part`, `order`) tie
   *  group of size t, carried once per group (on its first row by
   *  `within`) and 0 elsewhere — so `sum(__tc)` is the exact Σ(t³−t)
   *  of the rank tie corrections. */
  private def withTieCubes(part: Seq[Column], order: Column,
                           within: Column)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wTie = Window.partitionBy(part :+ order: _*)
    df.withColumn("__t", count(lit(1)).over(wTie))
      .withColumn("__rn", row_number().over(wTie.orderBy(within)))
      .withColumn("__tc", when(col("__rn") === 1,
        col("__t") * col("__t") * col("__t") - col("__t")).otherwise(0L))
  }

  /**
   * The r×c contingency grid behind [[cramersV]] and [[gTest]]. Rows
   * with a null a, b or key drop; the rest collapse map-side to exact
   * integer cell counts o per (keys, a, b), levels compared as
   * strings. Row and column margins and the totals (n, and r and c by
   * `countDistinct`) are exact-count aggregates over that cell
   * relation. The FULL r×c level grid is the margins' key-equi join
   * left-joined to the cells, so structural-zero cells (o = 0) get a
   * term too. `term(o, e)` (e = row·col/n, one pinned chain) then
   * folds in SORTED (a, b) cell order, so the double sum is
   * order-pinned and engine-identical. Cells are bounded by r·c
   * distinct pairs: the collected fold list is cardinality-bounded,
   * never data-bounded. `keys = Nil` is one global table.
   *
   * Output: (keys…, n, r, c, __s), `__s` the folded term sum.
   */
  private def contingencyFold(df: DataFrame, keys: Seq[String],
                              aCol: String, bCol: String,
                              term: (Column, Column) => Column)
  : DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        (if (keys.isEmpty) lit(true)
         else keys.map(col(_).isNotNull).reduce(_ && _)))
      .select(keys.map(col) :+ col(aCol).cast("string").as("__a") :+
        col(bCol).cast("string").as("__b"): _*)
      .groupBy(keys.map(col) :+ col("__a") :+ col("__b"): _*)
      .agg(count(lit(1)).as("__o"))
    val rowm = cells.groupBy(keys.map(col) :+ col("__a"): _*)
      .agg(sum(col("__o")).as("__ra"))
    val colm = cells.groupBy(keys.map(col) :+ col("__b"): _*)
      .agg(sum(col("__o")).as("__rb"))
    val tot = cells.groupBy(keys.map(col): _*)
      .agg(sum(col("__o")).as("__n"),
        countDistinct(col("__a")).as("__r"),
        countDistinct(col("__b")).as("__c"))
    val e = d(col("__ra")) * d(col("__rb")) / d(col("__n"))
    val grid =
      (if (keys.nonEmpty) rowm.join(colm, keys)
       else rowm.crossJoin(colm))
        .join(cells, keys ++ Seq("__a", "__b"), "left")
        .withColumn("__o", coalesce(col("__o"), lit(0L)))
    val terms =
      (if (keys.nonEmpty) grid.join(tot, keys)
       else grid.crossJoin(tot))
        .select(keys.map(col) ++ Seq(col("__n"), col("__r"), col("__c"),
          col("__a"), col("__b"), term(col("__o"), e).as("__t")): _*)
    terms.groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("n"), max(col("__r")).as("r"),
        max(col("__c")).as("c"),
        aggregate(sort_array(collect_list(struct(col("__a").as("a"),
          col("__b").as("b"), col("__t").as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("__s"))
  }

  // ---- the two-sample grid kernel and its closings ----

  /**
   * The pooled (keys, value) grid behind every two-sample CDF and
   * rank statistic. Rows of the two arms collapse map-side to one row
   * per (keys, `__v`), `__v` the exact [[unscaled]] long, with arm
   * counts `__ca`/`__cb`. ONE key-partitioned window ordered by `__v`
   * adds the exclusive prefix sums `__pa`/`__pb`/`__pn` (members of
   * arm a, arm b and both strictly below `__v`) and the segment width
   * `__dv` to the next grid value (0 on the last); the arm totals
   * `__na`/`__nb` ride the same partitioning. Columns a closing does
   * not read are pruned from the plan.
   *
   * `keepNullKeys` is the [[mannWhitneyU]]/[[ksTest]]/[[cliffsDelta]]
   * convention: null keys group as one key and `keys = Nil` is one
   * global group. Otherwise rows with a null key are dropped and keys
   * are required.
   */
  private def twoSampleGrid(op: String, df: DataFrame, keys: Seq[String],
                            groupCol: String, aLabel: String,
                            bLabel: String, valueCol: String,
                            valueScale: Int,
                            keepNullKeys: Boolean): DataFrame = {
    require(aLabel != bLabel,
      s"$op needs two distinct arm labels, got '$aLabel' for both")
    require(keepNullKeys || keys.nonEmpty, s"$op needs key columns")
    import org.apache.spark.sql.expressions.Window
    val arms = col(valueCol).isNotNull &&
      (col(groupCol) === aLabel || col(groupCol) === bLabel)
    val grid = df
      .filter(if (keepNullKeys) arms
        else arms && keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col) :+
        unscaled(col(valueCol), valueScale).as("__v"): _*)
      .agg(sum(when(col(groupCol) === aLabel, 1L).otherwise(0L))
        .as("__ca"),
        sum(when(col(groupCol) === bLabel, 1L).otherwise(0L)).as("__cb"))
    val wk = Window.partitionBy(keys.map(col): _*)
    val wo = wk.orderBy(col("__v"))
    val below = wo.rowsBetween(Window.unboundedPreceding, -1)
    grid
      .withColumn("__pa", coalesce(sum(col("__ca")).over(below), lit(0L)))
      .withColumn("__pb", coalesce(sum(col("__cb")).over(below), lit(0L)))
      .withColumn("__dv",
        coalesce(lead(col("__v"), 1).over(wo) - col("__v"), lit(0L)))
      .withColumn("__na", sum(col("__ca")).over(wk))
      .withColumn("__nb", sum(col("__cb")).over(wk))
      .withColumn("__pn", col("__pa") + col("__pb"))
  }

  /** One statistic's closing over [[twoSampleGrid]]: its per-key
   *  aggregates over the grid rows and its output columns over those
   *  aggregates and `n_a`/`n_b`. Aggregates are named; two closings
   *  that share a name share the expression, and a panel computes it
   *  once. */
  private final case class Closing(aggs: Seq[(String, Column)],
                                   outs: Seq[(String, Column)]) {
    def out(name: String): Column = outs.find(_._1 == name).get._2
  }

  /** The per-key aggregate of `closings` over `grid`, projected to
   *  (keys…, n_a, n_b, outs…). */
  private def closeGrid(grid: DataFrame, keys: Seq[String],
                        closings: Seq[Closing],
                        outs: Seq[Column]): DataFrame = {
    val aggs = closings.flatMap(_.aggs).distinctBy(_._1)
      .map { case (name, c) => c.as(name) }
    grid.groupBy(keys.map(col): _*)
      .agg(sum(col("__ca")).as("n_a"),
        sum(col("__cb")).as("n_b") +: aggs: _*)
      .select(keys.map(col) ++ Seq(col("n_a"), col("n_b")) ++ outs: _*)
  }

  /** The output columns of `closings`, in order, each name once. */
  private def outColumns(closings: Closing*): Seq[Column] =
    closings.flatMap(_.outs).distinctBy(_._1)
      .map { case (name, c) => c.as(name) }

  /** A single two-sample operator: the grid closed by one closing. */
  private def twoSample(op: String, closing: Closing,
                        keepNullKeys: Boolean, df: DataFrame,
                        keys: Seq[String], groupCol: String,
                        aLabel: String, bLabel: String, valueCol: String,
                        valueScale: Int): DataFrame =
    closeGrid(twoSampleGrid(op, df, keys, groupCol, aLabel, bLabel,
      valueCol, valueScale, keepNullKeys), keys, Seq(closing),
      outColumns(closing))

  private def nA: Column = d(col("n_a"))
  private def nB: Column = d(col("n_b"))
  private def bothArms: Column = col("n_a") >= 1L && col("n_b") >= 1L

  /** Null-on-zero divisor. Under ANSI mode (Spark 4's default) EVERY
   *  division by zero throws, doubles included, and codegen's
   *  subexpression elimination can hoist a division shared between a
   *  `when` guard and its branch ABOVE the guard, so output-level
   *  null guards do not protect a closing. A null divisor yields a
   *  null, never a throw; a nonzero one the bit-identical value.
   *  Pinned in DegenerateArmSpec. */
  private def nz(c: Column): Column = when(c =!= lit(0.0), c)

  /** Grid-row members of both arms (the tie-run length). */
  private def gridT: Column = col("__ca") + col("__cb")

  /** Doubled pooled midrank of the grid row's tie run:
   *  `R₂ = 2·prevN + t + 1`. */
  private def midRank2: Column = lit(2L) * col("__pn") + gridT + lit(1L)

  /** The ksTest lattice gap `cumA·n_b − cumB·n_a` (exact long). */
  private def cdfGap: Column =
    (col("__pa") + col("__ca")) * col("__nb") -
      (col("__pb") + col("__cb")) * col("__na")

  /** A per-row term times the segment width, exact in DECIMAL(38,0). */
  private def segment(term: Column): Column =
    (term.cast("decimal(20,0)") * col("__dv").cast("decimal(18,0)"))
      .cast("decimal(38,0)")

  /** Σ c·R₂ for one arm's grid counts `c`: the doubled rank sum,
   *  through the decimal product (long intermediates would overflow
   *  past n ~ 2e9 rows). */
  private def rankSum2(c: Column): Column =
    sum((c.cast("decimal(19,0)") * midRank2.cast("decimal(19,0)"))
      .cast("decimal(38,0)"))

  /** Mann-Whitney `U_a = R_a − n_a(n_a+1)/2` over the `__sra` sum. */
  private def uA: Column =
    d(col("__sra")) / lit(2.0) - nA * (nA + lit(1.0)) / lit(2.0)

  private def ksClosing: Closing = Closing(
    Seq("d_num" -> max(abs(cdfGap))),
    Seq("d_num" -> col("d_num"),
      "d_den" -> col("n_a") * col("n_b"),
      // long product THEN one cast
      "d" -> when(bothArms,
        d(col("d_num")) / d(col("n_a") * col("n_b")))))

  private def kuiperClosing: Closing = Closing(
    Seq("v_plus_num" -> greatest(max(cdfGap), lit(0L)),
      "v_minus_num" -> greatest(-min(cdfGap), lit(0L))),
    Seq("v_plus_num" -> col("v_plus_num"),
      "v_minus_num" -> col("v_minus_num"),
      "v" -> when(bothArms,
        d(col("v_plus_num") + col("v_minus_num")) / (nA * nB))))

  private def w1Closing(valueScale: Int): Closing = Closing(
    Seq("__w1s" -> sum(segment(abs(cdfGap)))),
    Seq("w1" -> when(bothArms, col("__w1s").cast("double") /
      (nA * nB) / lit(math.pow(10, valueScale)))))

  private def cvmClosing: Closing = {
    // 3x the row's contribution to 4*Sum (r-i)^2 — tripled so the
    // polynomial stays pure integer (Spark's `/` is double division)
    def contrib3(c: Column, prevC: Column): Column = {
      val k = midRank2 - lit(2L) * prevC
      lit(3L) * c * k * k - lit(6L) * k * c * (c + lit(1L)) +
        lit(2L) * c * (c + lit(1L)) * (lit(2L) * c + lit(1L))
    }
    val nm = nA + nB
    val u12 = nA * col("__s12a").cast("double") +
      nB * col("__s12b").cast("double")
    val tStat = u12 / (lit(12.0) * nA * nB * nm) -
      (lit(4.0) * nA * nB - lit(1.0)) / (lit(6.0) * nm)
    Closing(
      Seq("__s12a" -> sum(contrib3(col("__ca"), col("__pa"))
        .cast("decimal(38,0)")),
        "__s12b" -> sum(contrib3(col("__cb"), col("__pb"))
          .cast("decimal(38,0)"))),
      Seq("t" -> when(bothArms, tStat)))
  }

  private def adClosing: Closing = {
    def dec(c: Column) = c.cast("decimal(19,0)")
    def dec38(c: Column) = c.cast("decimal(38,0)")
    val bigN = col("__na") + col("__nb")
    val b2 = lit(2L) * col("__pn") + gridT
    // inner term per (grid row, arm), all-integer until ONE division:
    // l·(N·M₂ − B₂·n)² / (N·(B₂(2N−B₂) − N·l))
    def inner(m2: Column, n: Column): Column = {
      val d1 = dec38(dec(bigN) * dec(m2)) - dec38(dec(b2) * dec(n))
      val q = dec38(d1 * d1)
      val den = dec38(dec(b2) * dec(lit(2L) * bigN - b2)) -
        dec38(dec(bigN) * dec(gridT))
      when(den > lit(0L).cast("decimal(38,0)"),
        (d(gridT) * q.cast("double")) /
          (d(bigN) * den.cast("double"))).otherwise(lit(0.0))
    }
    // folded in ASCENDING grid order (an ordered-list reduce)
    val fold = aggregate(
      sort_array(collect_list(struct(col("__v").as("v"),
        inner(lit(2L) * col("__pa") + col("__ca"), col("__na")).as("ta"),
        inner(lit(2L) * col("__pb") + col("__cb"), col("__nb"))
          .as("tb")))),
      struct(lit(0.0).as("sa"), lit(0.0).as("sb")),
      (acc, x) => struct(
        (acc.getField("sa") + x.getField("ta")).as("sa"),
        (acc.getField("sb") + x.getField("tb")).as("sb")))
    val nm = nA + nB
    val a2 = (col("__ad").getField("sa") / nA +
      col("__ad").getField("sb") / nB) * (nm - lit(1.0)) / nm
    Closing(Seq("__grid" -> count(lit(1)), "__ad" -> fold),
      Seq("a2" -> when(bothArms && col("__grid") >= 2L, a2)))
  }

  private def energyClosing(valueScale: Int): Closing = {
    val cumA = col("__pa") + col("__ca")
    val cumB = col("__pb") + col("__cb")
    val e = lit(2.0) * col("__sxy").cast("double") / (nA * nB) -
      lit(2.0) * col("__sxx").cast("double") / (nA * nA) -
      lit(2.0) * col("__syy").cast("double") / (nB * nB)
    Closing(
      Seq("__sxy" -> sum(segment(cumA * (col("__nb") - cumB) +
        cumB * (col("__na") - cumA))),
        "__sxx" -> sum(segment(cumA * (col("__na") - cumA))),
        "__syy" -> sum(segment(cumB * (col("__nb") - cumB)))),
      Seq("energy" -> when(bothArms,
        e / lit(math.pow(10, valueScale)))))
  }

  private def distanceClosing: Closing = {
    val ca = col("__ca"); val cb = col("__cb")
    // BC folds SEQUENTIALLY in value order (≡ list_reduce)
    val bcFold = aggregate(
      sort_array(collect_list(struct(col("__v").as("__t"),
        (ca * cb).cast("double").as("__p")))),
      lit(0.0),
      (acc, p) => acc + sqrt(p.getField("__p")))
    val bc = col("__bcn") / sqrt(nA * nB)
    Closing(
      Seq("__tvn" -> sum(abs(ca * col("__nb") - cb * col("__na"))),
        "__ovn" -> sum(least(ca * col("__nb"), cb * col("__na"))),
        "__bcn" -> bcFold),
      Seq("tv" -> when(bothArms, d(col("__tvn")) / (lit(2.0) * nA * nB)),
        "overlap" -> when(bothArms, d(col("__ovn")) / (nA * nB)),
        "bc" -> when(bothArms, bc),
        "hellinger" -> when(bothArms,
          sqrt(greatest(lit(0.0), lit(1.0) - bc)))))
  }

  private def mwuClosing: Closing = {
    // decimal BEFORE multiplying: long intermediates would overflow
    // past 2e6-row tie runs (t³)
    val cd = gridT.cast("decimal(12,0)")
    val nn = nA + nB
    val mu = nA * nB / lit(2.0)
    val sig2 = nA * nB / lit(12.0) *
      ((nn + lit(1.0)) - d(col("__tt")) / nz(nn * (nn - lit(1.0))))
    Closing(
      Seq("__sra" -> rankSum2(col("__ca")),
        "__tt" -> sum((cd * cd * cd - cd).cast("decimal(38,0)"))),
      Seq("u_a" -> when(bothArms, uA),
        "u_b" -> when(bothArms, nA * nB - uA),
        "z" -> when(bothArms && sig2 > 0.0, (uA - mu) / nz(sqrt(sig2)))))
  }

  private def cliffsClosing: Closing = {
    val prod = nA * nB
    Closing(Seq("__sra" -> rankSum2(col("__ca"))),
      Seq("u_a" -> when(bothArms, uA),
        "delta" -> when(bothArms,
          lit(2.0) * uA / when(prod > 0.0, prod) - lit(1.0))))
  }

  private def bmClosing: Closing = {
    // placements L₂ = R₂ − Ra₂, Ra₂ = 2·prevArm + c + 1 (exact longs)
    def place(c: Column, prev: Column): Column =
      midRank2 - (lit(2L) * prev + c + lit(1L))
    def placeSum(c: Column, prev: Column): Column =
      sum((c * place(c, prev)).cast("decimal(38,0)"))
    def placeSq(c: Column, prev: Column): Column = {
      val l = place(c, prev).cast("decimal(19,0)")
      sum((l * l * c.cast("decimal(19,0)")).cast("decimal(38,0)"))
    }
    val ca = col("__ca"); val cb = col("__cb")
    val nn = nA + nB
    val rbarA = col("__sra").cast("double") / nz(nA) / lit(2.0)
    val rbarB = col("__srb").cast("double") / nz(nB) / lit(2.0)
    val sA = (col("__sla2").cast("double") -
      col("__sla").cast("double") * col("__sla").cast("double") /
        nz(nA)) /
      nz(lit(4.0) * (nA - lit(1.0)))
    val sB = (col("__slb2").cast("double") -
      col("__slb").cast("double") * col("__slb").cast("double") /
        nz(nB)) /
      nz(lit(4.0) * (nB - lit(1.0)))
    val varSum = nA * sA + nB * sB
    val w = nA * nB * (rbarB - rbarA) / nz(nn * sqrt(varSum))
    val dfNum = varSum * varSum
    val dfDen = (nA * sA) * (nA * sA) / nz(nA - lit(1.0)) +
      (nB * sB) * (nB * sB) / nz(nB - lit(1.0))
    val pHat = (rbarB - (nB + lit(1.0)) / lit(2.0)) / nz(nA)
    val okW = col("n_a") >= 2L && col("n_b") >= 2L
    Closing(
      Seq("__sra" -> rankSum2(ca), "__srb" -> rankSum2(cb),
        "__sla" -> placeSum(ca, col("__pa")),
        "__sla2" -> placeSq(ca, col("__pa")),
        "__slb" -> placeSum(cb, col("__pb")),
        "__slb2" -> placeSq(cb, col("__pb"))),
      Seq("p_hat" -> when(bothArms, pHat),
        "w" -> when(okW && varSum > 0.0, w),
        "df" -> when(okW && varSum > 0.0 && dfDen > 0.0,
          dfNum / when(dfDen > 0.0, dfDen))))
  }
}
