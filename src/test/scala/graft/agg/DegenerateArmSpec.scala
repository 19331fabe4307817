package graft.agg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.TestSpark

/** ANSI degenerate-arm sweep: under Spark 4's default ANSI mode,
 *  EVERY division by zero throws (double included — probed:
 *  `select 1.0d/0.0d` raises DIVIDE_BY_ZERO), and whole-stage
 *  codegen's subexpression elimination can hoist a division shared
 *  between a `when` guard and its branch ABOVE the guard — so "the
 *  output is null-guarded" does not protect a closing whose divisor
 *  can be zero. A key with an empty or singleton arm must produce
 *  its documented null row, never crash the whole job.
 *
 *  This sweep runs every two-sample and every k-group Stats operator
 *  over the five degenerate fixtures (empty arm each way, singleton
 *  arms, all-tied, a single-row key), and every exact-moment operator
 *  over constant-x, single-row and constant-y keys, and asserts each
 *  COLLECTS — the
 *  contract that an engine-wide drift report cannot be killed by one
 *  degenerate key.
 *  (Found via rankPanel: brunnerMunzel's placement-variance divisor
 *  was hoisted past its okW guard and threw on an empty arm.) */
class DegenerateArmSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dfOf(rows: Seq[(String, String, Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("key", "arm", "v")
  }

  private val fixtures: Seq[(String, Seq[(String, String, Double)])] = Seq(
    "empty-b arm" -> Seq(("k", "a", 1.0), ("k", "a", 2.0)),
    "empty-a arm" -> Seq(("k", "b", 1.0), ("k", "b", 2.0)),
    "singleton arms" -> Seq(("k", "a", 1.0), ("k", "b", 2.0)),
    "all-tied" -> Seq(("k", "a", 5.0), ("k", "a", 5.0),
      ("k", "b", 5.0), ("k", "b", 5.0)),
    // N = 1: mannWhitneyU's tie term divides by n(n−1) = 0
    "single-row key" -> Seq(("k", "a", 1.0)))

  private val twoSample: Seq[(String, DataFrame => DataFrame)] = Seq(
    ("welchT", d => Stats.welchT(d, Seq("key"), "arm", "a", "b", "v")),
    ("mannWhitneyU",
      d => Stats.mannWhitneyU(d, Seq("key"), "arm", "a", "b", "v")),
    ("cohensD", d => Stats.cohensD(d, Seq("key"), "arm", "a", "b", "v")),
    ("ksTest", d => Stats.ksTest(d, Seq("key"), "arm", "a", "b", "v")),
    ("cliffsDelta",
      d => Stats.cliffsDelta(d, Seq("key"), "arm", "a", "b", "v")),
    ("wasserstein1",
      d => Stats.wasserstein1(d, Seq("key"), "arm", "a", "b", "v")),
    ("kuiper", d => Stats.kuiper(d, Seq("key"), "arm", "a", "b", "v")),
    ("cramerVonMises",
      d => Stats.cramerVonMises(d, Seq("key"), "arm", "a", "b", "v")),
    ("andersonDarling",
      d => Stats.andersonDarling(d, Seq("key"), "arm", "a", "b", "v")),
    ("energyDistance",
      d => Stats.energyDistance(d, Seq("key"), "arm", "a", "b", "v")),
    ("distributionDistance",
      d => Stats.distributionDistance(d, Seq("key"), "arm", "a", "b",
        "v")),
    ("hodgesLehmann",
      d => Stats.hodgesLehmann(d, Seq("key"), "arm", "a", "b", "v")),
    ("brunnerMunzel",
      d => Stats.brunnerMunzel(d, Seq("key"), "arm", "a", "b", "v")),
    ("driftPanel",
      d => Stats.driftPanel(d, Seq("key"), "arm", "a", "b", "v")),
    ("rankPanel",
      d => Stats.rankPanel(d, Seq("key"), "arm", "a", "b", "v")),
    ("twoProportionZ", d => Stats.twoProportionZ(
      d.withColumn("hit", org.apache.spark.sql.functions.col("v") >= 2.0),
      Seq("key"), "arm", "a", "b", "hit")),
    ("cohensH", d => Stats.cohensH(
      d.withColumn("hit", org.apache.spark.sql.functions.col("v") >= 2.0),
      Seq("key"), "arm", "a", "b", "hit")),
    ("poissonRateTest", d => Stats.poissonRateTest(
      d.withColumn("n", org.apache.spark.sql.functions.lit(1L)),
      Seq("key"), "arm", "a", "b", "n", "v")),
    ("conoverSquaredRanks",
      d => Stats.conoverSquaredRanks(d, Seq("key"), "arm", "a", "b",
        "v")))

  private val kGroup: Seq[(String, DataFrame => DataFrame)] = Seq(
    ("anovaF", d => Stats.anovaF(d, Seq("key"), "arm", "v")),
    ("kruskalWallis",
      d => Stats.kruskalWallis(d, Seq("key"), "arm", "v")),
    ("brownForsythe",
      d => Stats.brownForsythe(d, Seq("key"), "arm", "v")),
    ("bartlett", d => Stats.bartlett(d, Seq("key"), "arm", "v")),
    ("moodsMedianTest",
      d => Stats.moodsMedianTest(d, Seq("key"), "arm", "v")))

  private val kGroupFixtures
  : Seq[(String, Seq[(String, String, Double)])] = Seq(
    "single group" -> Seq(("k", "a", 1.0), ("k", "a", 2.0)),
    "singleton groups" -> Seq(("k", "a", 1.0), ("k", "b", 2.0)),
    "all-tied groups" -> Seq(("k", "a", 5.0), ("k", "a", 5.0),
      ("k", "b", 5.0), ("k", "b", 5.0)))

  // the moment family: one key, (ts, x, y) rows; a constant column is
  // 0 so ratioOfSums' Σx ≤ 0 guard is the degenerate branch as well
  private val momentFixtures: Seq[(String, Seq[(String, Long, Double, Double)])] =
    Seq(
      "constant-x key" -> Seq(1.0, 3.0, 2.0, 5.0, 4.0).zipWithIndex
        .map { case (y, i) => ("k", i + 1L, 0.0, y) },
      "single-row key" -> Seq(("k", 1L, 1.0, 2.0)),
      "constant-y key" -> Seq(1.0, 3.0, 2.0, 5.0, 4.0).zipWithIndex
        .map { case (x, i) => ("k", i + 1L, x, 0.0) })

  private val healthyKey: Seq[(String, Long, Double, Double)] =
    Seq((1.0, 2.0), (4.0, 3.0), (2.0, 1.0), (6.0, 6.0), (3.0, 4.0),
      (5.0, 5.0), (8.0, 7.0), (7.0, 9.0)).zipWithIndex
      .map { case ((x, y), i) => ("k", i + 1L, x, y) }

  // (operator, call, statistic column, the fixtures it is null on):
  // the one-column operators read x, so a constant y leaves them whole
  private val moments: Seq[(String, DataFrame => DataFrame, String,
    Set[String])] = {
    val all = momentFixtures.map(_._1).toSet
    val onX = all - "constant-y key"
    Seq(
      ("pearsonMatrix",
        d => Stats.pearsonMatrix(d, Seq("x" -> 2, "y" -> 2)), "corr", all),
      ("linearFit", d => Stats.linearFit(d, Seq("key"), "x", "y", 2, 2),
        "corr", all),
      ("spearman", d => Stats.spearman(d, Seq("key"), "x", "y"), "rho", all),
      ("acf", d => Stats.acf(d, Seq("key"), "ts", "ts", "x", 2), "corr",
        onX),
      ("ccf", d => Stats.ccf(d, Seq("key"), "ts", "ts", "x", "y", 2),
        "corr", all),
      ("pacf", d => Stats.pacf(d, Seq("key"), "ts", "ts", "x", 2), "pacf",
        onX),
      ("laggedCrossCorr", d => graft.ops.TimeSeries.laggedCrossCorr(d,
        Seq("key"), "ts", "x", "y", 2), "corr", all),
      ("rollingCorr", d => graft.ops.TimeSeries.rollingCorr(d, Seq("key"),
        "ts", "ts", "x", "y", 3), "corr", all),
      ("partialCorr", d => Stats.partialCorr(d, Seq("key"), "x", "y",
        "ts"), "r_partial", all),
      ("linCcc", d => Stats.linCcc(d, Seq("key"), "x", "y"), "r", all),
      ("durbinWatson", d => Stats.durbinWatson(d, Seq("key"), "ts", "ts",
        "x"), "dw", onX),
      ("ratioOfSums", d => Stats.ratioOfSums(d, Seq("key"), "y", "x"),
        "se", onX))
  }

  test("every two-sample operator survives every degenerate-arm " +
    "fixture (nulls per contract, never DIVIDE_BY_ZERO)") {
    val failures = for {
      (fname, rows) <- fixtures
      (op, f) <- twoSample
      err <- (try { f(dfOf(rows)).collect(); None }
        catch { case e: Throwable =>
          Some(s"$op on $fname: ${e.getMessage.take(100)}") })
    } yield err
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every two-sample grid operator rejects equal arm labels " +
    "with a clear IllegalArgumentException") {
    type Op = (DataFrame, Seq[String], String, String, String, String,
      Int) => DataFrame
    val ops: Seq[(String, Op)] = Seq(
      "mannWhitneyU" -> Stats.mannWhitneyU _, "ksTest" -> Stats.ksTest _,
      "cliffsDelta" -> Stats.cliffsDelta _,
      "wasserstein1" -> Stats.wasserstein1 _,
      "cramerVonMises" -> Stats.cramerVonMises _,
      "andersonDarling" -> Stats.andersonDarling _,
      "kuiper" -> Stats.kuiper _,
      "energyDistance" -> Stats.energyDistance _,
      "distributionDistance" -> Stats.distributionDistance _,
      "brunnerMunzel" -> Stats.brunnerMunzel _,
      "driftPanel" -> Stats.driftPanel _, "rankPanel" -> Stats.rankPanel _)
    val df = dfOf(Seq(("k", "a", 1.0), ("k", "a", 2.0), ("k", "b", 3.0)))
    for ((op, f) <- ops) {
      val e = intercept[IllegalArgumentException](
        f(df, Seq("key"), "arm", "a", "a", "v", 2))
      assert(e.getMessage.contains(op) &&
        e.getMessage.contains("distinct arm labels"), s"$op: ${e.getMessage}")
    }
  }

  test("every moment operator collects on constant-x, single-row and " +
    "constant-y keys and nulls its statistic there") {
    def mdf(rows: Seq[(String, Long, Double, Double)]): DataFrame =
      rows.toDF("key", "ts", "x", "y")
    val failures = for {
      (op, f, stat, nullOn) <- moments
      (fname, rows) <- momentFixtures :+ ("healthy key" -> healthyKey)
      err <- (try {
        val got = f(mdf(rows)).collect().map(r => r.get(r.fieldIndex(stat)))
        if (nullOn(fname) && got.exists(_ != null))
          Some(s"$op on $fname: non-null $stat ${got.mkString(",")}")
        else if (fname == "healthy key" && got.forall(_ == null))
          Some(s"$op on $fname: no non-null $stat")
        else None
      } catch { case e: Throwable =>
        Some(s"$op on $fname: ${e.getMessage.take(100)}") })
    } yield err
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every k-group operator survives single/singleton/tied " +
    "group fixtures") {
    val failures = for {
      (fname, rows) <- kGroupFixtures
      (op, f) <- kGroup
      err <- (try { f(dfOf(rows)).collect(); None }
        catch { case e: Throwable =>
          Some(s"$op on $fname: ${e.getMessage.take(100)}") })
    } yield err
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every paired/block-design operator survives single-pair, " +
    "zero-difference, missing-arm and single-treatment fixtures") {
    import org.apache.spark.sql.functions.{col => c}
    def pdf(rows: Seq[(String, String, String, Double)]): DataFrame =
      rows.toDF("key", "subj", "cond", "v")
    val pairFx: Seq[(String, DataFrame)] = Seq(
      "single pair" -> pdf(Seq(("k", "s1", "a", 1.0),
        ("k", "s1", "b", 2.0))),
      "zero-diff pairs" -> pdf(Seq(("k", "s1", "a", 5.0),
        ("k", "s1", "b", 5.0), ("k", "s2", "a", 3.0),
        ("k", "s2", "b", 3.0))),
      "missing-arm subject" -> pdf(Seq(("k", "s1", "a", 1.0))))
    val paired: Seq[(String, DataFrame => DataFrame)] = Seq(
      ("wilcoxonSignedRank", d => Stats.wilcoxonSignedRank(d,
        Seq("key"), "subj", "cond", "a", "b", "v")),
      ("mcnemar", d => Stats.mcnemar(
        d.withColumn("y", c("v") >= 2.0),
        Seq("key"), "subj", "cond", "a", "b", "y")))
    val blockFx: Seq[(String, DataFrame)] = Seq(
      "single block" -> pdf(Seq(("k", "b1", "t1", 1.0),
        ("k", "b1", "t2", 2.0), ("k", "b1", "t3", 3.0))),
      "single treatment" -> pdf(Seq(("k", "b1", "t1", 1.0),
        ("k", "b2", "t1", 2.0), ("k", "b3", "t1", 3.0))),
      "all-tied blocks" -> pdf(Seq(("k", "b1", "t1", 5.0),
        ("k", "b1", "t2", 5.0), ("k", "b2", "t1", 5.0),
        ("k", "b2", "t2", 5.0))))
    val block: Seq[(String, DataFrame => DataFrame)] = Seq(
      ("friedman", d => Stats.friedman(d, Seq("key"), "subj", "cond",
        "v")),
      ("quade", d => Stats.quade(d, Seq("key"), "subj", "cond", "v")),
      ("pageTrend", d => Stats.pageTrend(d, Seq("key"), "subj",
        "cond", "v")),
      ("kendallsW", d => Stats.kendallsW(d, Seq("key"), "subj",
        "cond", "v")),
      ("cronbachAlpha", d => Stats.cronbachAlpha(d, Seq("key"), "subj",
        "cond", "v")),
      ("cochranQ", d => Stats.cochranQ(
        d.withColumn("y", c("v") >= 2.0),
        Seq("key"), "subj", "cond", "y")))
    val failures =
      (for { (fn, fx) <- pairFx; (op, f) <- paired
             e <- (try { f(fx).collect(); None }
               catch { case ex: Throwable =>
                 Some(s"$op on $fn: ${ex.getMessage.take(100)}") })
           } yield e) ++
      (for { (fn, fx) <- blockFx; (op, f) <- block
             e <- (try { f(fx).collect(); None }
               catch { case ex: Throwable =>
                 Some(s"$op on $fn: ${ex.getMessage.take(100)}") })
           } yield e)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every one-sample/sequence operator survives single-row, " +
    "constant-series and single-dose fixtures") {
    import org.apache.spark.sql.functions.{col => c}
    def sdf(rows: Seq[(String, Long, Double)]): DataFrame =
      rows.toDF("key", "ts", "v")
    val seqFx: Seq[(String, DataFrame)] = Seq(
      "single row" -> sdf(Seq(("k", 1L, 1.0))),
      "two rows" -> sdf(Seq(("k", 1L, 1.0), ("k", 2L, 2.0))),
      "constant series" -> sdf(Seq(("k", 1L, 5.0), ("k", 2L, 5.0),
        ("k", 3L, 5.0), ("k", 4L, 5.0))))
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      ("jarqueBera", d => Stats.jarqueBera(d, Seq("key"), "v")),
      ("grubbs", d => Stats.grubbs(d, Seq("key"), "v")),
      ("runsTest", d => Stats.runsTest(d, Seq("key"), "ts", "ts",
        "v")),
      ("durbinWatson", d => Stats.durbinWatson(d, Seq("key"), "ts",
        "ts", "v")),
      ("ljungBox", d => Stats.ljungBox(d, Seq("key"), "ts", "ts",
        "v")),
      ("jonckheereTerpstra", d => Stats.jonckheereTerpstra(
        d.withColumn("dose", (c("ts") % 2L).cast("string")),
        Seq("key"), "dose", "v")),
      ("cochranArmitage", d => Stats.cochranArmitage(
        d.withColumn("y", c("v") >= 2.0).withColumn("dose",
          c("ts") % 2L), Seq("key"), "dose", "y")))
    val failures = for {
      (fn, fx) <- seqFx
      (op, f) <- ops
      e <- (try { f(fx).collect(); None }
        catch { case ex: Throwable =>
          Some(s"$op on $fn: ${ex.getMessage.take(100)}") })
    } yield e
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("brunnerMunzel and rankPanel empty-arm rows are the " +
    "documented nulls (regression pin for the hoisted-division crash)") {
    val df = dfOf(Seq(("k", "a", 1.0), ("k", "a", 2.0)))
    val bm = Stats.brunnerMunzel(df, Seq("key"), "arm", "a", "b", "v")
      .collect()(0)
    for (c <- Seq("p_hat", "w", "df"))
      assert(bm.isNullAt(bm.fieldIndex(c)), c)
    assert(bm.getAs[Long]("n_a") == 2L && bm.getAs[Long]("n_b") == 0L)
    val rp = Stats.rankPanel(df, Seq("key"), "arm", "a", "b", "v")
      .collect()(0)
    for (c <- Seq("u_a", "u_b", "z", "delta", "p_hat", "w", "df"))
      assert(rp.isNullAt(rp.fieldIndex(c)), c)
  }
}
