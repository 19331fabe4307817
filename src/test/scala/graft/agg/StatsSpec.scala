package graft.agg

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pearsonMatrix: perfect positive / negative / zero-variance null") {
    val df = Seq((1.0, 2.0, 5.0), (2.0, 4.0, 5.0), (3.0, 6.0, 5.0))
      .toDF("a", "b", "c")
    val out = Stats.pearsonMatrix(df, Seq(("a", 2), ("b", 2), ("c", 2)))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // sqrt rounding can land a perfect correlation 1 ulp past 1.0
    assert(math.abs(out(("a", "b")).get - 1.0) < 1e-12)
    assert(out(("a", "c")).isEmpty) // c has zero variance
    assert(out(("b", "c")).isEmpty)
  }

  test("pearsonMatrix: hand-checked value and listwise deletion") {
    val df = Seq((Some(1.0), Some(1.0)), (Some(2.0), Some(3.0)),
      (Some(3.0), Some(2.0)), (None, Some(9.0))).toDF("x", "y")
    val r = Stats.pearsonMatrix(df, Seq(("x", 2), ("y", 2))).collect()(0)
    assert(r.getLong(2) == 3L) // null row excluded
    assert(math.abs(r.getDouble(3) - 0.5) < 1e-15) // cov=1, sd=1·2 → 0.5
  }

  test("linearFit: exact line recovered per group; zero-x-variance null") {
    val df = (1 to 5).map(i => ("up", i.toLong, 2.0 * i + 1.0)) ++
      Seq(("flat", 7L, 1.0), ("flat", 7L, 9.0))
    val out = df.toDF("g", "x", "y")
    val rows = Stats.linearFit(out, Seq("g"), "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    val up = rows("up")
    assert(up.getLong(1) == 5L)
    assert(up.getDouble(2) == 2.0 && up.getDouble(3) == 1.0)
    assert(math.abs(up.getDouble(4) - 1.0) < 1e-15)
    val flat = rows("flat")
    assert(flat.isNullAt(2) && flat.isNullAt(3) && flat.isNullAt(4))
  }

  test("welchT: hand-derived t and dof; degenerate arms null out") {
    // arm a: 1,2,3 (mean 2, var 1); arm b: 2,4,6,8 (mean 5, var 20/3)
    val df = (Seq(1.0, 2.0, 3.0).map(("k", "a", _)) ++
      Seq(2.0, 4.0, 6.0, 8.0).map(("k", "b", _)) ++
      Seq(("solo", "a", 1.0), ("solo", "b", 2.0)))
      .toDF("key", "arm", "v")
    val out = Stats.welchT(df, Seq("key"), "arm", "a", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Long]("n_a") == 3L && k.getAs[Long]("n_b") == 4L)
    assert(k.getAs[Double]("mean_a") == 2.0 && k.getAs[Double]("mean_b") == 5.0)
    val va = 1.0; val vb = 20.0 / 3.0
    val sea = va / 3.0; val seb = vb / 4.0
    val se2 = sea + seb
    assert(k.getAs[Double]("t") == (2.0 - 5.0) / math.sqrt(se2))
    assert(k.getAs[Double]("dof") ==
      se2 * se2 / (sea * sea / 2.0 + seb * seb / 3.0))
    // n < 2 per arm: t/dof null, means still emitted
    val solo = out("solo")
    assert(solo.isNullAt(solo.fieldIndex("t")) &&
      solo.isNullAt(solo.fieldIndex("dof")))
    assert(solo.getAs[Double]("mean_a") == 1.0)
  }

  test("mannWhitneyU: hand-derived ranks/U/z with ties; degenerates null") {
    // a={1,2,3}, b={2,4,5}: tie run at 2 -> avg rank 2.5 each;
    // R_a = 1 + 2.5 + 4 = 7.5, U_a = 1.5, T = 2^3-2 = 6,
    // sig2 = (9/12)*((6+1) - 6/(6*5)) = 5.1
    val df = spark.createDataFrame(Seq(
      ("k", "a", 1.0), ("k", "a", 2.0), ("k", "a", 3.0),
      ("k", "b", 2.0), ("k", "b", 4.0), ("k", "b", 5.0),
      ("flat", "a", 7.0), ("flat", "a", 7.0), ("flat", "b", 7.0),
      ("one", "a", 1.0), ("one", "a", 2.0),
      ("k", "c", 99.0))) // foreign label: excluded
      .toDF("key", "arm", "v")
    val out = Stats.mannWhitneyU(df, Seq("key"), "arm", "a", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Long]("n_a") == 3L && k.getAs[Long]("n_b") == 3L)
    assert(k.getAs[Double]("u_a") == 1.5 && k.getAs[Double]("u_b") == 7.5)
    assert(k.getAs[Double]("z") == (1.5 - 4.5) / math.sqrt(5.1))
    // all-tied data: sig2 = 0 -> null z, U still defined
    // (three ties at 7 -> avg rank 2 each; R_a = 4, U_a = 4 - 3 = 1)
    val flat = out("flat")
    assert(flat.getAs[Double]("u_a") == 1.0)
    assert(flat.isNullAt(flat.fieldIndex("z")))
    // missing arm b: u/z null
    val one = out("one")
    assert(one.getAs[Long]("n_b") == 0L && one.isNullAt(one.fieldIndex("z"))
      && one.isNullAt(one.fieldIndex("u_a")))
  }

  test("spearman: tie-averaged ranks; monotone nonlinear = 1") {
    val df = Seq(
      ("t", 1.0, 1.0), ("t", 2.0, 2.0), ("t", 2.0, 3.0), ("t", 3.0, 4.0),
      ("m", 1.0, 1.0), ("m", 2.0, 10.0), ("m", 3.0, 100.0), ("m", 4.0, 1000.0),
      ("h", 1.0, 10.0), ("h", 2.0, 30.0), ("h", 3.0, 20.0))
      .toDF("key", "x", "y")
    val out = Stats.spearman(df, Seq("key"), "x", "y")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // ties: x-ranks (1, 2.5, 2.5, 4), y-ranks (1,2,3,4) ->
    // rho = 4.5/sqrt(4.5*5)
    assert(out("t") == 4.5 / (math.sqrt(4.5) * math.sqrt(5.0)))
    assert(math.abs(out("m") - 1.0) < 1e-12)
    // classic d^2 formula: 1 - 6*2/(3*8) = 0.5
    assert(math.abs(out("h") - 0.5) < 1e-12)
  }

  test("benjaminiHochberg: step-up adjusted p, tied p's share p_adj") {
    val df = Seq(("f", "t1", 0.01), ("f", "t2", 0.02), ("f", "t3", 0.03),
      ("f", "t4", 0.2), ("f", "t5", 0.5))
      .toDF("fam", "id", "p")
    val out = Stats.benjaminiHochberg(df, Seq("fam"), "id", "p", alpha = 0.1)
      .collect().map(r => r.getAs[String]("id") ->
        (r.getAs[Double]("p_adj"), r.getAs[Boolean]("significant"))).toMap
    // raw m*p/k = ~.05 ~.05 ~.05 .25 .5 (replay the exact IEEE
    // composition — the three ~.05s differ in the last ulp)
    val raw = Seq(0.01, 0.02, 0.03, 0.2, 0.5).zipWithIndex
      .map { case (p, i) => 5.0 * p / (i + 1).toDouble }
    val adj = raw.indices.map(i => math.min(1.0, raw.drop(i).min))
    assert(out("t1")._1 == adj(0) && out("t2")._1 == adj(1) &&
      out("t3")._1 == adj(2))
    assert(out("t4")._1 == adj(3) && out("t5")._1 == adj(4))
    assert(out("t1")._2 && out("t2")._2 && out("t3")._2)
    assert(!out("t4")._2 && !out("t5")._2)
    // tied p's get identical p_adj regardless of id order
    val tied = Seq(("f", "a", 0.04), ("f", "b", 0.04), ("f", "c", 0.9))
      .toDF("fam", "id", "p")
    val t2 = Stats.benjaminiHochberg(tied, Seq("fam"), "id", "p")
      .collect().map(r => r.getAs[String]("id") -> r.getAs[Double]("p_adj"))
      .toMap
    assert(t2("a") == t2("b") && t2("a") == 3.0 * 0.04 / 2.0)
  }

  test("cohenKappa: textbook contingency; degenerate pe=1 null") {
    // 20 yes/yes, 15 no/no, 10 yes/no, 5 no/yes:
    // po = 0.7, pe = (30*25 + 20*25)/2500 = 0.5, kappa = 0.4
    val rows =
      Seq.fill(20)(("k", "yes", "yes")) ++ Seq.fill(15)(("k", "no", "no")) ++
      Seq.fill(10)(("k", "yes", "no")) ++ Seq.fill(5)(("k", "no", "yes")) ++
      Seq.fill(4)(("flat", "x", "x")) ++
      Seq(("k", null, "yes"), ("k", "yes", null)) // null labels excluded
    val out = Stats.cohenKappa(rows.toDF("key", "r1", "r2"),
      Seq("key"), "r1", "r2")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Long]("n") == 50L)
    assert(k.getAs[Double]("po") == 0.7 && k.getAs[Double]("pe") == 0.5)
    assert(math.abs(k.getAs[Double]("kappa") - 0.4) < 1e-15)
    val flat = out("flat")
    assert(flat.getAs[Double]("pe") == 1.0 &&
      flat.isNullAt(flat.fieldIndex("kappa")))
  }

  test("gini: rank identity on the cent grid; bounds; exclusions") {
    val df = Seq(
      ("g", Some(0.01)), ("g", Some(0.01)), ("g", Some(0.02)),
      ("flat", Some(5.0)), ("flat", Some(5.0)), ("flat", Some(5.0)),
      ("top", Some(0.0)), ("top", Some(0.0)), ("top", Some(10.0)),
      ("top", None), ("top", Some(-3.0))) // null/negative excluded
      .toDF("k", "v")
    val out = Stats.gini(df, Seq("k"), "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    // sorted cents (1,1,2): 2Σi·x = 18, Σx = 4 -> (18-16)/12 = 1/6
    assert(out("g")._1 == 3L)
    assert(math.abs(out("g")._2.get - 1.0 / 6.0) < 1e-15)
    assert(out("flat")._2.get == 0.0)           // even mass
    assert(out("top")._1 == 3L)                 // excluded rows dropped
    assert(math.abs(out("top")._2.get - 2.0 / 3.0) < 1e-15) // (n-1)/n max
  }

  test("mutualInfo: exact independence at 0; identity at ln2; " +
      "constant column nulls nmi") {
    def block(k: String, pairs: Seq[(Int, Int)], times: Int) =
      pairs.flatMap(p => Seq.fill(times)((k, p._1.toString, p._2.toString)))
    val df = (block("ind", Seq((0, 0), (0, 1), (1, 0), (1, 1)), 5) ++
      block("dep", Seq((0, 0), (1, 1)), 5) ++
      block("const", Seq((0, 0), (0, 1)), 5)).toDF("k", "a", "b")
    val out = Stats.mutualInfo(df, Seq("k"), "a", "b")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("ind").getAs[Double]("mi") == 0.0) // every cell ratio = 1
    def r9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dep = out("dep")
    val expMi = 2 * r9(0.5 * math.log(2.0))
    val expH = 2 * -r9(0.5 * math.log(0.5))
    assert(dep.getAs[Double]("mi") == expMi)
    assert(dep.getAs[Double]("h_a") == expH &&
      dep.getAs[Double]("h_b") == expH)
    assert(dep.getAs[Double]("nmi") ==
      expMi / (math.sqrt(expH) * math.sqrt(expH)))
    val c = out("const")
    assert(c.getAs[Double]("h_a") == 0.0 && c.isNullAt(c.fieldIndex("nmi")))
  }

  test("theilSen: exact line recovered; outlier-robust median") {
    val line = (1 to 10).map(i => ("k", i.toDouble, 2.0 * i + 1, i.toLong))
    val dirty = (1 to 10).map(i =>
      ("d", i.toDouble, if (i == 10) 1000.0 else 2.0 * i, i.toLong))
    val out = Stats.theilSen((line ++ dirty).toDF("k", "x", "y", "id"),
      Seq("k"), "x", "y", "id")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    // strides {1,2,3,5,8,13,21} over 10 ranks: 9+8+7+5+2 = 31 pairs
    assert(out("k") == ((31L, 2.0)))
    assert(out("d")._2 == 2.0) // the outlier can't move the median
  }

  test("twoProportionZ: pooled-variance hand check; degenerate null") {
    val rows = Seq.fill(40)(("k", "a", true)) ++
      Seq.fill(60)(("k", "a", false)) ++
      Seq.fill(50)(("k", "b", true)) ++ Seq.fill(50)(("k", "b", false)) ++
      Seq.fill(5)(("sat", "a", true)) ++ Seq.fill(5)(("sat", "b", true))
    val out = Stats.twoProportionZ(rows.toDF("key", "arm", "hit"),
      Seq("key"), "arm", "a", "b", "hit")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Long]("n_a") == 100L && k.getAs[Long]("n_b") == 100L)
    val pa = 40.0 / 100.0; val pb = 50.0 / 100.0
    val pp = (40.0 + 50.0) / (100.0 + 100.0)
    val se2 = pp * (1.0 - pp) * (1.0 / 100.0 + 1.0 / 100.0)
    assert(k.getAs[Double]("p_a") == pa && k.getAs[Double]("p_b") == pb)
    assert(k.getAs[Double]("z") == (pa - pb) / math.sqrt(se2))
    // saturated pool (p = 1): no variance, null z
    val s = out("sat")
    assert(s.getAs[Double]("p_a") == 1.0 && s.isNullAt(s.fieldIndex("z")))
  }

  test("ksTest: hand CDF gap; one-arm group null; empty input") {
    val rows = Seq(("k", "a", 1.0), ("k", "a", 2.0), ("k", "a", 3.0),
      ("k", "b", 2.0), ("k", "b", 3.0), ("k", "b", 4.0),
      ("solo", "a", 1.0))
    val out = Stats.ksTest(rows.toDF("key", "arm", "v"),
      Seq("key"), "arm", "a", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // grids: v=1 |1·3−0·3|=3, v=2 |2·3−1·3|=3, v=3 |3·3−2·3|=3, v=4 0
    assert(k.getAs[Long]("n_a") == 3L && k.getAs[Long]("n_b") == 3L)
    assert(k.getAs[Long]("d_num") == 3L && k.getAs[Long]("d_den") == 9L)
    assert(k.getAs[Double]("d") == 3.0 / 9.0)
    val solo = out("solo")
    assert(solo.getAs[Long]("n_b") == 0L &&
      solo.isNullAt(solo.fieldIndex("d")))
    assert(Stats.ksTest(rows.toDF("key", "arm", "v").limit(0),
      Seq("key"), "arm", "a", "b", "v").count() == 0)
  }

  test("kendallTau: hand tie corrections; brute-force agreement; " +
    "perfect discordance; degenerate null") {
    // x=[1,2,2,3], y=[1,3,2,4]: n0=6, n1=1 (x-tie pair), n2=n3=0,
    // D=0 → S=5, tau = 5/sqrt(5·6)
    val df = Seq(("g", 1.0, 1.0), ("g", 2.0, 3.0), ("g", 2.0, 2.0),
      ("g", 3.0, 4.0), ("r", 1.0, 2.0), ("r", 2.0, 1.0),
      ("flat", 5.0, 1.0), ("flat", 5.0, 2.0))
      .toDF("key", "x", "y")
    val out = Stats.kendallTau(df, Seq("key"), "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    val g = out("g")
    assert(g.getAs[Long]("n0") == 6L && g.getAs[Long]("n1") == 1L &&
      g.getAs[Long]("n2") == 0L && g.getAs[Long]("n3") == 0L &&
      g.getAs[Long]("discordant") == 0L && g.getAs[Long]("s") == 5L)
    assert(g.getAs[Double]("tau_b") == 5.0 / math.sqrt(5.0 * 6.0))
    // reversal: S = 1 − 2·1 = −1, tau = −1
    assert(out("r").getAs[Double]("tau_b") == -1.0)
    // all x tied: zero x-variance → null
    assert(out("flat").isNullAt(out("flat").fieldIndex("tau_b")))
    // brute-force cross-check on a deterministic pseudo-random set
    val vals = (0 until 60).map { i =>
      ("b", ((i * 7919) % 23).toDouble, ((i * 104729) % 17).toDouble)
    }
    val b = Stats.kendallTau(vals.toDF("key", "x", "y"), Seq("key"),
      "x", "y").collect().head
    var (c, dis) = (0L, 0L)
    for (i <- vals.indices; j <- (i + 1) until vals.length) {
      val p = (vals(i)._2 - vals(j)._2) * (vals(i)._3 - vals(j)._3)
      if (p > 0) c += 1 else if (p < 0) dis += 1
    }
    assert(b.getAs[Long]("discordant") == dis)
    val n0 = 60L * 59 / 2
    assert(b.getAs[Long]("s") ==
      b.getAs[Long]("n0") - b.getAs[Long]("n1") - b.getAs[Long]("n2") +
        b.getAs[Long]("n3") - 2 * dis)
    // S also equals C − D directly (ties cancel): cross-check
    assert(b.getAs[Long]("s") == c - dis)
    assert(b.getAs[Long]("n0") == n0)
  }
  test("calibration: exact bucket stats on the 2^-32 probability grid; " +
    "out-of-range excluded") {
    val rows = Seq(
      ("k", 0.05, false), ("k", 0.05, false), // bin 0: mean .05, rate 0
      ("k", 0.95, true), ("k", 0.95, false),  // bin 9: mean .95, rate .5
      ("k", 1.0, true),                       // p=1 clamps into bin 9
      ("k", 1.5, true), ("k", -0.1, false)    // excluded
    )
    val out = Stats.calibration(rows.toDF("key", "p", "y"),
      Seq("key"), "p", "y", bins = 10)
      .collect().map(r => r.getAs[Long]("bin") -> r).toMap
    assert(out.keySet == Set(0L, 9L))
    val b0 = out(0L)
    assert(b0.getAs[Long]("n") == 2L && b0.getAs[Double]("mean_p") == 0.05
      && b0.getAs[Double]("frac_pos") == 0.0
      && b0.getAs[Double]("gap") == -0.05)
    val b9 = out(9L)
    assert(b9.getAs[Long]("n") == 3L)
    assert(math.abs(b9.getAs[Double]("mean_p") - (0.95 + 0.95 + 1.0) / 3)
      < 1e-12)
    assert(b9.getAs[Double]("frac_pos") == 2.0 / 3.0)
  }

  test("isotonicCalibration: violating bins pool to their weighted " +
    "average, monotone bins stay; cascading merge; per-bin counts kept") {
    // per bin: (bin center p, positives, total): rates .1 .5 .3 .7 —
    // bins 1&2 violate and pool to (5+3)/(10+10) = 0.4
    def mk(binP: Double, pos: Int, tot: Int) =
      (0 until tot).map(i => ("k", binP, i < pos))
    val df = (mk(0.05, 1, 10) ++ mk(0.15, 5, 10) ++ mk(0.25, 3, 10) ++
      mk(0.35, 7, 10)).toDF("key", "p", "y")
    val out = Stats.isotonicCalibration(df, Seq("key"), "p", "y",
      bins = 10)
      .collect().map(r => r.getAs[Long]("bin") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_pos"),
          r.getAs[Double]("fitted")))).toMap
    assert(out == Map(
      0L -> ((10L, 1L, 0.1)), 1L -> ((10L, 5L, 0.4)),
      2L -> ((10L, 3L, 0.4)), 3L -> ((10L, 7L, 0.7))))
    // fully decreasing rates .9 .5 .1 cascade into ONE block at the
    // grand rate 15/30 = 0.5
    val dec = (mk(0.05, 9, 10) ++ mk(0.45, 5, 10) ++ mk(0.95, 1, 10))
      .toDF("key", "p", "y")
    val out2 = Stats.isotonicCalibration(dec, Seq("key"), "p", "y",
      bins = 10)
      .collect().map(_.getAs[Double]("fitted")).toSet
    assert(out2 == Set(0.5))
    // already-monotone input is the identity fit (rates untouched)
    val mono = (mk(0.05, 1, 10) ++ mk(0.55, 5, 10)).toDF("key", "p", "y")
    val out3 = Stats.isotonicCalibration(mono, Seq("key"), "p", "y",
      bins = 10)
      .collect().map(r => r.getAs[Long]("bin") ->
        r.getAs[Double]("fitted")).toMap
    assert(out3 == Map(0L -> 0.1, 5L -> 0.5))
  }

  test("quantileRegression: exact weighted per-bin τ-quantile, line " +
    "through the bin points; weights shift the quantile; single bin " +
    "has no line") {
    val df = Seq(
      ("k", 1.0, 1.0, 1.0), ("k", 2.0, 2.0, 1.0),
      ("k", 3.0, 3.0, 1.0), ("k", 3.5, 4.0, 1.0),
      ("k", 5.0, 10.0, 1.0), ("k", 6.0, 20.0, 1.0),
      ("k", 7.0, 30.0, 1.0), ("k", 7.5, 40.0, 1.0)
    ).toDF("key", "x", "v", "wt")
    val out = Stats.quantileRegression(df, Seq("key"), "x", "v", "wt",
      tau = 0.5, binWidth = 4.0)
      .collect().map(r => r.getAs[Long]("bin") -> r).toMap
    // bin 0 (x<4): values 1..4, median-by-cum-weight = 2; bin 1: = 20
    assert(out(0L).getAs[Double]("q_tau") == 2.0)
    assert(out(1L).getAs[Double]("q_tau") == 20.0)
    assert(out(0L).getAs[Double]("x_mid") == 2.0 &&
      out(1L).getAs[Double]("x_mid") == 6.0)
    assert(out(0L).getAs[Double]("w") == 4.0)
    // line through (2, 2) and (6, 20), equal mass: slope 4.5,
    // intercept -7 — exact in doubles
    assert(out(0L).getAs[Double]("slope") == 4.5)
    assert(out(0L).getAs[Double]("intercept") == -7.0)
    assert(out(1L).getAs[Double]("slope") == 4.5)
    // mass 3 on value 1 vs mass 1 on value 2: the weighted median is 1
    val wdf = Seq(("k", 0.0, 1.0, 3.0), ("k", 1.0, 2.0, 1.0))
      .toDF("key", "x", "v", "wt")
    val wq = Stats.quantileRegression(wdf, Seq("key"), "x", "v", "wt",
      tau = 0.5, binWidth = 4.0).collect()
    assert(wq.length == 1 && wq.head.getAs[Double]("q_tau") == 1.0)
    assert(wq.head.isNullAt(wq.head.fieldIndex("slope"))) // one bin
  }

  test("mcnemar: discordant cells from per-subject max outcomes; " +
    "one-condition subjects excluded; concordant-only key null") {
    val df = Seq(
      ("k", 1L, "A", true), ("k", 1L, "B", false),
      ("k", 2L, "A", true), ("k", 2L, "B", false),
      ("k", 3L, "A", false), ("k", 3L, "B", true),
      ("k", 4L, "A", true), ("k", 4L, "B", true),
      ("k", 5L, "A", false), ("k", 5L, "B", false),
      ("k", 5L, "A", false), // repeat rows fold via max
      ("k", 6L, "A", true), // B never observed -> excluded
      ("z", 7L, "A", true), ("z", 7L, "B", true)
    ).toDF("key", "subj", "cond", "y")
    val out = Stats.mcnemar(df, Seq("key"), "subj", "cond", "A", "B", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    // pairs 1..5: b = 2 (A only), c = 1 (B only) -> chi2 = 1/3,
    // corrected = 0 exactly
    assert(out("k")._1 == 5L && out("k")._2 == 2L && out("k")._3 == 1L)
    assert(out("k")._4.get == 1.0 / 3.0 && out("k")._5.get == 0.0)
    assert(out("z")._4.isEmpty) // b + c = 0
  }

  test("cohensD: hand-computed pooled effect size and Hedges debias; " +
    "degenerate arms null") {
    val df = Seq(("k", "a", 2.0), ("k", "a", 4.0),
      ("k", "b", 1.0), ("k", "b", 3.0),
      ("z", "a", 5.0), ("z", "a", 5.0), ("z", "b", 5.0)) // zero scatter
      .toDF("key", "arm", "v")
    val out = Stats.cohensD(df, Seq("key"), "arm", "a", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // means 3, 2; pooled var (2+2)/2 = 2 -> d = 1/sqrt(2); N = 4 ->
    // g = d * (1 - 3/7)
    val d = 1.0 / math.sqrt(2.0)
    assert(k.getAs[Double]("mean_a") == 3.0 &&
      k.getAs[Double]("mean_b") == 2.0)
    assert(k.getAs[Double]("cohens_d") == d)
    assert(k.getAs[Double]("hedges_g") ==
      d * (1.0 - 3.0 / (4.0 * 4.0 - 9.0)))
    assert(out("z").isNullAt(out("z").fieldIndex("cohens_d")))
  }

  test("moodsMedianTest: perfectly separated groups hit chi2 = 6 " +
    "exactly; identical groups 0; one-sided key null") {
    val sep = Seq(("s", 0L, 1.0), ("s", 0L, 2.0), ("s", 0L, 3.0),
      ("s", 1L, 4.0), ("s", 1L, 5.0), ("s", 1L, 6.0))
    val same = Seq(("m", 0L, 1.0), ("m", 0L, 4.0),
      ("m", 1L, 2.0), ("m", 1L, 3.0))
    val flat = Seq(("f", 0L, 5.0), ("f", 1L, 5.0))
    val out = Stats.moodsMedianTest(
      (sep ++ same ++ flat).toDF("key", "g", "v"), Seq("key"), "g", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    // med = 3; above {4,5,6} all in g1: cells (0,3),(3,0), E = 1.5
    // everywhere -> 4 * 1.5 = 6
    assert(out("s") == ((2L, 6L, 3L, Some(6.0))))
    // med = 2; one above per group -> observed == expected -> 0
    assert(out("m")._4.get == 0.0)
    assert(out("f")._4.isEmpty) // nothing above the median
  }

  test("anovaF: hand F and eta-squared; zero within-scatter and " +
    "single group null") {
    // {1,3} vs {5,7}: SSB=16, SSW=4 -> F=(16/1)/(4/2)=8, eta=0.8
    val a = Seq(("k", 0L, 1.0), ("k", 0L, 3.0),
      ("k", 1L, 5.0), ("k", 1L, 7.0))
    val sep = Seq(("s", 0L, 1.0), ("s", 0L, 1.0),
      ("s", 1L, 3.0), ("s", 1L, 3.0)) // perfect separation: F null, eta 1
    val solo = Seq(("o", 0L, 1.0), ("o", 0L, 2.0))
    val out = Stats.anovaF(
      (a ++ sep ++ solo).toDF("key", "g", "v"), Seq("key"), "g", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(out("k")._1 == 2L && out("k")._2 == 4L)
    assert(out("k")._3.get == 8.0 && out("k")._4.get == 0.8)
    assert(out("s")._3.isEmpty && out("s")._4.get == 1.0)
    assert(out("o")._3.isEmpty)
  }

  test("kruskalWallis: hand values with and without ties (tie " +
    "correction built into the rank-scatter denominator)") {
    // {1,2} vs {3,4}: H = 2.4 exactly (classic formula cross-check)
    val clean = Seq(("k", 0L, 1.0), ("k", 0L, 2.0),
      ("k", 1L, 3.0), ("k", 1L, 4.0))
    // {1,1} vs {1,2}: uncorrected H = 0.6, C = 0.6 -> H = 1 exactly
    val tied = Seq(("t", 0L, 1.0), ("t", 0L, 1.0),
      ("t", 1L, 1.0), ("t", 1L, 2.0))
    // all values identical -> zero rank scatter -> null
    val flat = Seq(("f", 0L, 5.0), ("f", 1L, 5.0))
    val out = Stats.kruskalWallis(
      (clean ++ tied ++ flat).toDF("key", "g", "v"), Seq("key"), "g", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out("k")._1 == 2L && out("k")._2 == 4L)
    assert(math.abs(out("k")._3.get - 2.4) < 1e-12)
    assert(math.abs(out("t")._3.get - 1.0) < 1e-12)
    assert(out("f")._3.isEmpty)
  }

  test("runsTest: alternating sequence has many runs (z > 0), " +
    "monotone few (z < 0), hand moments; empty side null") {
    import java.sql.Timestamp
    def series(k: String, vs: Seq[Double]) = vs.zipWithIndex.map {
      case (v, i) =>
        (k, Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), i.toLong, v)
    }
    // time order 10,1,9,2,8,3: median (rank 3 of sorted) = 3, drops;
    // remaining +,-,+,-,+ -> 5 runs, n1=3, n2=2, E=3.4, Var=0.84
    val osc = series("osc", Seq(10.0, 1.0, 9.0, 2.0, 8.0, 3.0))
    val mono = series("mono", Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    val side = series("side", Seq(1.0, 2.0, 2.0)) // med 2 -> no belows
    val out = Stats.runsTest((osc ++ mono ++ side).toDF("k", "ts", "id", "v"),
      Seq("k"), "ts", "id", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(out("osc")._1 == 3L && out("osc")._2 == 2L &&
      out("osc")._3 == 5L)
    assert(math.abs(out("osc")._4.get -
      (5.0 - 3.4) / math.sqrt(0.84)) < 1e-12)
    // 1..6: med 3 drops; -,-,+,+,+ -> 2 runs, z < 0
    assert(out("mono")._3 == 2L && out("mono")._4.get < 0.0)
    assert(out("side")._4.isEmpty)
  }

  test("durbinWatson: trending series scores below 2, alternating " +
    "above 2, exact hand values; constant and singleton null") {
    import java.sql.Timestamp
    def series(k: String, vs: Seq[Double]) = vs.zipWithIndex.map {
      case (v, i) =>
        (k, Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), i.toLong, v)
    }
    val df = (series("trend", Seq(1.0, 2.0, 3.0, 4.0)) ++
      series("alt", Seq(1.0, 3.0, 1.0, 3.0)) ++
      series("const", Seq(5.0, 5.0, 5.0)) ++
      series("one", Seq(7.0))).toDF("k", "ts", "id", "v")
    val out = Stats.durbinWatson(df, Seq("k"), "ts", "id", "v")
      .collect().map(r => r.getString(0) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    // 1,2,3,4: Σd² = 3·100², den = 300000 − 1000²/4 ⇒ 0.6 exact
    assert(out("trend").get == 0.6)
    // 1,3,1,3: Σd² = 3·200², den = 200000 − 800²/4 ⇒ 3.0 exact
    assert(out("alt").get == 3.0)
    assert(out("const").isEmpty && out("one").isEmpty)
  }

  test("cochranArmitage: hand-computed monotone trend z; flat rates " +
    "score exactly 0; single dose is null") {
    def mk(k: String, dose: Long, pos: Int, tot: Int) =
      (0 until tot).map(i => (k, dose, i < pos))
    // rates 0.2 / 0.5 / 0.8 over doses 0/1/2: T = 21 - 0.5*30 = 6,
    // Var = 0.25*(50 - 900/30) = 5 -> z = 6/sqrt(5)
    val up = mk("up", 0L, 2, 10) ++ mk("up", 1L, 5, 10) ++
      mk("up", 2L, 8, 10)
    val flat = mk("flat", 0L, 5, 10) ++ mk("flat", 1L, 5, 10)
    val solo = mk("solo", 3L, 2, 10)
    val out = Stats.cochranArmitage(
      (up ++ flat ++ solo).toDF("key", "dose", "y"),
      Seq("key"), "dose", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out("up")._1 == 30L && out("up")._2 == 15L)
    assert(math.abs(out("up")._3.get - 6.0 / math.sqrt(5.0)) < 1e-12)
    assert(out("flat")._3.get == 0.0) // T = 5 - 0.5*10 exactly 0
    assert(out("solo")._3.isEmpty)    // zero dose scatter -> null
  }

  test("brownForsythe: equal spreads score exactly 0, unequal spreads " +
    "positive; discrete lower median; single group is null") {
    // key a: both groups deviate identically from their medians -> 0
    val a = Seq(("a", 0L, 1.0), ("a", 0L, 1.0), ("a", 0L, 5.0),
      ("a", 0L, 5.0), ("a", 1L, 1.0), ("a", 1L, 5.0))
    // key b: one constant group, one spread group -> W = 4 (by hand)
    val b = Seq(("b", 0L, 1.0), ("b", 0L, 1.0), ("b", 0L, 1.0),
      ("b", 1L, 0.0), ("b", 1L, 10.0), ("b", 1L, 20.0))
    // key c: one group only -> null
    val c = Seq(("c", 0L, 1.0), ("c", 0L, 2.0))
    val out = Stats.brownForsythe(
      (a ++ b ++ c).toDF("key", "g", "v"), Seq("key"), "g", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out("a") == ((2L, 6L, Some(0.0))))
    assert(out("b")._1 == 2L && out("b")._2 == 6L)
    assert(math.abs(out("b")._3.get - 4.0) < 1e-9)
    assert(out("c") == ((1L, 2L, None)))
  }

  test("trimmedMean: rank-interval trim on 1..10; tie runs split " +
    "exactly; trim 0 is the mean") {
    val df = ((1 to 10).map(v => ("a", v.toDouble)) ++
      Seq(("b", 1.0), ("b", 1.0), ("b", 1.0), ("b", 9.0), ("b", 100.0)))
      .toDF("k", "v")
    val out = Stats.trimmedMean(df, Seq("k"), "v", trimFrac = 0.2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // a: n=10, k=2, keep ranks 3..8 -> mean(3..8) = 5.5
    assert(out("a") == ((10L, 6L, 5.5)))
    // b: n=5, k=1, keep ranks 2..4 -> the 1.0 run contributes 2 of
    // its 3 copies, then 9.0: (1+1+9)/3
    assert(out("b")._2 == 3L &&
      math.abs(out("b")._3 - 11.0 / 3.0) < 1e-12)
    val full = Stats.trimmedMean(df, Seq("k"), "v", trimFrac = 0.0)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(full("a") == 5.5 && full("b") == 22.4)
  }

  test("mutualInfoMatrix: identical pair has mi == entropy (nmi 1), " +
    "independent pair has mi 0") {
    val df = Seq(("x", "x", "p"), ("x", "x", "q"), ("y", "y", "p"),
      ("y", "y", "q")).toDF("a", "b", "c")
    val out = Stats.mutualInfoMatrix(df, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    val ab = out(("a", "b")) // identical columns: mi = H = ln 2
    assert(math.abs(ab.getAs[Double]("mi") - math.log(2.0)) < 1e-8)
    assert(math.abs(ab.getAs[Double]("nmi") - 1.0) < 1e-8)
    // a independent of c: every cell ratio is 1 -> mi 0
    assert(out(("a", "c")).getAs[Double]("mi") == 0.0)
  }

  test("averagePrecision: hand step AP with a tie-free and a " +
    "no-positive group; perfect ranking scores 1") {
    val df = Seq(
      ("k", 3.0, true), ("k", 2.0, false), ("k", 1.0, true),
      ("p", 9.0, true), ("p", 8.0, true), ("p", 1.0, false),
      ("z", 5.0, false), ("z", 4.0, false)
    ).toDF("g", "s", "y")
    val out = Stats.averagePrecision(df, Seq("g"), "s", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3))
          .map(_.asInstanceOf[Double]))).toMap
    // k: hits at ranks 1 and 3 -> (1 + 2/3)/2 = 5/6
    assert(out("k")._1 == 2L && out("k")._2 == 1L)
    assert(math.abs(out("k")._3.get - 5.0 / 6.0) < 1e-12)
    // p: both positives lead -> AP = 1
    assert(out("p")._3.get == 1.0)
    // z: no positives -> null
    assert(out("z") == ((0L, 2L, None)))
  }

  test("winsorizedMean: tails clamp to boundary order statistics; " +
    "frac 0 is the mean") {
    val df = Seq(("a", 1.0), ("a", 1.0), ("a", 1.0), ("a", 5.0),
      ("a", 100.0)).toDF("k", "v")
    val out = Stats.winsorizedMean(df, Seq("k"), "v", winsorFrac = 0.2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // clamp to [rank2=1, rank4=5]: [1,1,1,5,5] -> 13/5
    assert(out("a") == ((5L, 2.6)))
    val full = Stats.winsorizedMean(df, Seq("k"), "v", winsorFrac = 0.0)
      .collect().head.getDouble(2)
    assert(full == 21.6)
  }

  test("theilIndex: ln(2)/3 hand case; equal values score 0; " +
    "non-positive rows excluded") {
    val df = Seq(("a", 1.0), ("a", 1.0), ("a", 4.0),
      ("e", 7.0), ("e", 7.0), ("e", -1.0), ("e", 0.0)).toDF("k", "v")
    val out = Stats.theilIndex(df, Seq("k"), "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out("a")._1 == 3L &&
      math.abs(out("a")._2 - math.log(2.0) / 3.0) < 1e-8)
    // equal values (after excluding <= 0): perfect equality -> 0
    assert(out("e") == ((2L, 0.0)))
  }

  test("sprt: crosses the upper boundary at the first qualifying " +
    "step; undecided keys report the final LLR with null decision") {
    def t(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$i%02d:00")
    // p0=0.4 p1=0.6: each success adds ln(1.5)=.405, each failure
    // ln(2/3)=-.405; upper = ln(0.8/0.05)=2.7726 -> 7 net successes
    val wins = (0 until 12).map(i => ("up", t(i), i.toLong, true))
    val mixed = (0 until 4).map(i => ("mix", t(i), i.toLong, i % 2 == 0))
    val df = (wins ++ mixed).toDF("k", "ts", "id", "y")
    val out = Stats.sprt(df, Seq("k"), "ts", "id", "y",
      p0 = 0.4, p1 = 0.6, alpha = 0.05, beta = 0.2)
      .collect().map(r => r.getString(0) -> r).toMap
    val up = out("up")
    assert(up.getAs[String]("decision") == "accept_h1")
    // 7·round9(ln 1.5) = 2.838 >= 2.7726; 6 steps = 2.433 is not
    assert(up.getAs[Long]("n_at_decision") == 7L)
    assert(up.getAs[Long]("n_total") == 12L)
    val mix = out("mix")
    assert(mix.isNullAt(mix.fieldIndex("decision")) &&
      mix.isNullAt(mix.fieldIndex("n_at_decision")))
    // final row: 2 wins 2 losses -> LLR 0 exactly on the round-9 grid
    assert(mix.getAs[Double]("llr_at_decision") == 0.0)
  }

  test("msprt: hand log-lambda walk crosses at the computed step; " +
    "null-drift key never decides") {
    // key a: 8 successes, theta0 = 0.5 (sigma2 = 0.25), tau = 1,
    // alpha = 0.5 (thr = ln 2 = 0.693147181). Hand walk of
    // lnL(n) = 0.5*ln(0.25/(0.25+n)) + (n/2)^2/(0.5*(0.25+n)):
    // n=4 -> 0.4657 < thr; n=5 -> 0.8587 >= thr -> reject at n=5.
    val a = (1 to 8).map(i => ("a", i.toLong, i.toLong, true))
    // key b: alternating outcomes hug theta0 -> never crosses
    val b = (1 to 8).map(i => ("b", i.toLong, i.toLong, i % 2 == 0))
    val df = (a ++ b).toDF("k", "ts", "id", "y")
    val out = Stats.msprt(df, Seq("k"), "ts", "id", "y",
      theta0 = 0.5, tau = 1.0, alpha = 0.5)
      .collect().map(r => r.getString(0) -> r).toMap
    val ra = out("a")
    assert(ra.getLong(1) == 8L && ra.getLong(2) == 8L)
    assert(ra.getString(3) == "reject" && ra.getLong(4) == 5L)
    assert(math.abs(ra.getDouble(5) - 0.858691162) < 1e-6)
    val rb = out("b")
    assert(rb.isNullAt(3) && rb.isNullAt(4))
    assert(rb.getLong(1) == 8L && rb.getLong(2) == 4L)
    // undecided fallback reports the FINAL row's log-lambda
    assert(rb.getDouble(5) < 0.0)
  }

  test("groupSequential: hand z at the first look crosses; balanced " +
    "key never decides; one-armed key yields null z fallback") {
    // 16 rows, K = 2 looks of 8. Key a, look 1: treatment 4/4
    // converts, control 0/4 -> pp = .5,
    // z = 1/sqrt(.25*(1/4+1/4)) = 2.8284 >= 2.0 -> reject_up at
    // look 1 (look 2 never consulted). Key d mirrors conversions ->
    // reject_down.
    def rows(k: String, flip: Boolean) = (1 to 16).map { i =>
      val treat = i % 2 == 0
      val conv = if (treat) !flip else flip
      (k, i.toLong, i.toLong, treat, conv)
    }
    // key b: every arm converts identically -> z = 0 forever
    val balanced = (1 to 16).map(i => ("b", i.toLong, i.toLong,
      i % 2 == 0, i % 4 < 2))
    // key c: control arm empty -> z null at both looks
    val oneArm = (1 to 8).map(i => ("c", i.toLong, i.toLong, true, true))
    val df = (rows("a", flip = false) ++ rows("d", flip = true) ++
      balanced ++ oneArm).toDF("k", "ts", "id", "variant", "y")
    val out = Stats.groupSequential(df, Seq("k"), "ts", "id",
      "variant", "y", boundaries = Seq(2.0, 2.0))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getInt(1) == 1 && a.getLong(2) == 4L && a.getLong(3) == 4L &&
      a.getLong(4) == 4L && a.getLong(5) == 0L)
    assert(math.abs(a.getDouble(6) - 1.0 / math.sqrt(0.125)) < 1e-12)
    assert(a.getString(8) == "reject_up")
    assert(out("d").getString(8) == "reject_down" &&
      out("d").getInt(1) == 1)
    val b = out("b")
    assert(b.getInt(1) == 2 && b.isNullAt(8)) // ran to the end
    assert(math.abs(b.getDouble(6)) < 1e-12)
    val c = out("c")
    assert(c.getInt(1) == 2 && c.isNullAt(6) && c.isNullAt(8))
    assert(c.getLong(4) == 0L) // no control arm ever
  }

  test("bootstrapMeanCi: deterministic, brackets the sample mean, " +
    "narrows with more data") {
    val small = (1 to 30).map(i => ("a", i.toLong, (i % 10) + 1.0))
    val big = (1 to 300).map(i => ("b", i.toLong, (i % 10) + 1.0))
    val df = (small ++ big).toDF("k", "id", "v")
    def run() = Stats.bootstrapMeanCi(df, Seq("k"), "id", "v", b = 100)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val o1 = run(); val o2 = run()
    assert(o1 == o2) // zero RNG: bit-identical across runs
    val (na, ma, loA, hiA) = o1("a")
    assert(na == 30L && ma == 5.5 && loA < ma && ma < hiA)
    val (_, mb, loB, hiB) = o1("b")
    assert(mb == 5.5)
    // 10x the data: the interval must be strictly tighter
    assert(hiB - loB < hiA - loA)
  }

  test("bootstrapMeanCi: tiny group ranks against SURVIVING resamples " +
    "(zero-weight resamples drop), CI never null") {
    // n = 1: each resample keeps the row with P = 1 - 1/e, so ~37 of
    // 100 resamples have zero total weight and are filtered. Ranks
    // pinned at ceil(q*b) (the round-14 defect) would then point past
    // the surviving count -> null ci_hi; ranks against the surviving
    // count give the degenerate-but-correct [v, v].
    val df = Seq(("solo", 1L, 42.0)).toDF("k", "id", "v")
    val r = Stats.bootstrapMeanCi(df, Seq("k"), "id", "v", b = 100)
      .collect().head
    assert(r.getLong(1) == 1L && r.getDouble(2) == 42.0)
    assert(!r.isNullAt(3) && !r.isNullAt(4))
    assert(r.getDouble(3) == 42.0 && r.getDouble(4) == 42.0)
  }

  test("pacf: degenerate acf = ±1 cuts the output at the zero " +
    "denominator instead of emitting NaN/Inf") {
    // perfectly alternating, ODD length: the 8 lag-1 pairs have
    // zero-sum x and y, so vx = vy = 64 (a perfect square) and
    // acf(1) = -64/(sqrt(64)*sqrt(64)) = -1 EXACTLY — the lag-2
    // Durbin-Levinson denominator 1 - phi11*r1 is then exactly 0 and
    // pacf must emit ONLY lag 1 (no NaN/Infinity rows at lags 2+)
    val alt = (0 until 9).map(i => ("alt", acfTs(i), i.toLong,
      if (i % 2 == 0) 1.0 else -1.0)).toDF("k", "ts", "id", "v")
    val rows = Stats.pacf(alt, Seq("k"), "ts", "id", "v", maxLag = 4)
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(rows.keySet == Set(1))
    assert(rows(1) == -1.0)
    assert(rows.values.forall(v => !v.isNaN && !v.isInfinity))
  }

  test("cuped: metric == covariate gives theta 1 and equalizes " +
    "every variant to the grand mean; zero-variance covariate " +
    "falls back to raw means") {
    val df = Seq(
      ("e", "a", 10.0, 10.0), ("e", "a", 20.0, 20.0),
      ("e", "b", 30.0, 30.0), ("e", "b", 40.0, 40.0),
      ("z", "a", 1.0, 7.0), ("z", "b", 5.0, 7.0))
      .toDF("k", "var", "y", "x")
    val out = Stats.cuped(df, Seq("k"), "var", "y", "x")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(3), r.getDouble(4),
          Option(r.get(5)).map(_.asInstanceOf[Double]))).toMap
    // y == x: theta = 1, adjusted = grand mean 25 for both variants
    assert(out(("e", "a"))._3.get == 1.0)
    assert(out(("e", "a"))._1 == 15.0 && out(("e", "a"))._2 == 25.0)
    assert(out(("e", "b"))._1 == 35.0 && out(("e", "b"))._2 == 25.0)
    // constant covariate: theta null, adjusted == raw
    assert(out(("z", "a")) == ((1.0, 1.0, None)))
    assert(out(("z", "b")) == ((5.0, 5.0, None)))
  }

  test("diffInDiff: hand 2x2 contrast; a missing cell nulls the " +
    "estimate") {
    val df = Seq(
      ("k", false, false, 10.0), ("k", false, true, 12.0),
      ("k", true, false, 20.0), ("k", true, true, 29.0),
      ("m", true, true, 5.0), ("m", false, false, 1.0))
      .toDF("g", "tr", "po", "v")
    val out = Stats.diffInDiff(df, Seq("g"), "tr", "po", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // (29-20) - (12-10) = 7
    assert(k.getAs[Double]("did") == 7.0 && k.getAs[Long]("n") == 4L)
    assert(out("m").isNullAt(out("m").fieldIndex("did")))
  }

  test("classificationReport: hand confusion cells and ratios; " +
    "empty denominators null") {
    val df = Seq(
      ("k", true, true), ("k", true, true), ("k", true, false),
      ("k", false, true), ("k", false, false),
      ("z", false, false), ("z", false, false)) // never predicts
      .toDF("g", "y", "p")
    val out = Stats.classificationReport(df, Seq("g"), "y", "p")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert((k.getAs[Long]("tp"), k.getAs[Long]("fp"),
      k.getAs[Long]("fn"), k.getAs[Long]("tn")) == ((2L, 1L, 1L, 1L)))
    assert(k.getAs[Double]("precision") == 2.0 / 3.0 &&
      k.getAs[Double]("recall") == 2.0 / 3.0)
    assert(math.abs(k.getAs[Double]("f1") - 2.0 / 3.0) < 1e-12)
    assert(k.getAs[Double]("accuracy") == 0.6)
    val z = out("z")
    assert(z.isNullAt(z.fieldIndex("precision")) &&
      z.isNullAt(z.fieldIndex("f1")) &&
      z.getAs[Double]("accuracy") == 1.0)
  }

  test("oddsRatio: hand 2x2; zero cell nulls OR and CI but not RR") {
    val df = (Seq.fill(40)(("k", true, true)) ++
      Seq.fill(10)(("k", true, false)) ++
      Seq.fill(20)(("k", false, true)) ++
      Seq.fill(30)(("k", false, false)) ++
      Seq.fill(5)(("z", true, true)) ++ Seq.fill(5)(("z", false, true)) ++
      Seq.fill(5)(("z", false, false))).toDF("g", "e", "y")
    val out = Stats.oddsRatio(df, Seq("g"), "e", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // OR = 40·30 / (10·20) = 6; RR = 0.8 / 0.4 = 2
    assert(k.getAs[Double]("odds_ratio") == 6.0)
    assert(k.getAs[Double]("relative_risk") == 2.0)
    val se = math.sqrt(1.0 / 40 + 1.0 / 10 + 1.0 / 20 + 1.0 / 30)
    val l9 = BigDecimal(math.log(6.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(k.getAs[Double]("log_or") == l9)
    assert(k.getAs[Double]("ci_lo") == l9 - 1.96 * se)
    // z: b = 0 -> OR/CI null; RR = 1.0/(10/15)... a/(a+b)=1, c/(c+d)=.5
    val z = out("z")
    assert(z.isNullAt(z.fieldIndex("odds_ratio")) &&
      z.isNullAt(z.fieldIndex("ci_lo")))
    assert(z.getAs[Double]("relative_risk") == 2.0)
  }

  test("hooverIndex: hand share-to-move; equality scores 0") {
    // [1, 3]: mu=2, sum|x-mu| = 2, H = 2/(2·2·4) = 0.25 — move a
    // quarter of the mass (0.5 of 2 twice... exactly 1 from 3 to 1)
    val df = Seq(("a", 1.0), ("a", 3.0), ("e", 2.0), ("e", 2.0))
      .toDF("k", "v")
    val out = Stats.hooverIndex(df, Seq("k"), "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out("a") == ((2L, 0.25)))
    assert(out("e") == ((2L, 0.0)))
  }

  test("hhi: uniform entities score 1/n, monopoly scores 1; CR4 " +
    "takes the top 4 by total") {
    val uniform = (1 to 5).map(i => ("u", s"e$i", 10.0))
    val mono = Seq(("m", "only", 7.0))
    val skew = Seq(("s", "big", 60.0), ("s", "b2", 20.0),
      ("s", "b3", 10.0), ("s", "b4", 6.0), ("s", "tail", 4.0))
    val out = Stats.hhi((uniform ++ mono ++ skew).toDF("k", "e", "v"),
      Seq("k"), "e", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out("u")._1 == 5L && out("u")._2 == 0.2 && out("u")._3 == 0.8)
    assert(out("m") == ((1L, 1.0, 1.0)))
    // shares .6 .2 .1 .06 .04: hhi = .36+.04+.01+.0036+.0016 = .4152
    assert(math.abs(out("s")._2 - 0.4152) < 1e-12)
    assert(out("s")._3 == 0.96)
  }

  test("ece: hand bin-weighted gaps; perfectly calibrated bins score 0") {
    val rows = Seq(
      ("k", 0.05, false), ("k", 0.05, false), // bin 0: |0 - .05| = .05
      ("k", 0.95, true), ("k", 0.95, false),  // bin 9: |.5 - .95| = .45
      // perfectly calibrated key: bin 5 mean .5, rate .5 -> gap 0
      ("z", 0.5, true), ("z", 0.5, false)
    )
    val out = Stats.ece(rows.toDF("key", "p", "y"), Seq("key"), "p", "y",
      bins = 10).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // (2*.05 + 2*.45)/4 = 0.25
    assert(out("k")._1 == 4L && math.abs(out("k")._2 - 0.25) < 1e-12)
    assert(out("z") == ((2L, 0.0)))
  }

  test("brierScore: hand residuals; perfect and coin baselines") {
    val rows = Seq(("k", 1.0, true), ("k", 0.0, false), // perfect
      ("c", 0.5, true), ("c", 0.5, false))              // coin: 0.25
    val out = Stats.brierScore(rows.toDF("key", "p", "y"),
      Seq("key"), "p", "y")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("brier")).toMap
    assert(out("k") == 0.0)
    assert(out("c") == 0.25)
    assert(Stats.brierScore(rows.toDF("key", "p", "y").limit(0),
      Seq("key"), "p", "y").count() == 0)
  }
  test("ratioOfSums: hand-derived ratio/se; degenerate guards") {
    // (x, y): (1, 2), (2, 4), (3, 9): r = 15/6 = 2.5
    // residuals y - r*x: -0.5, -1, 1.5 -> rss = 3.5
    // se = sqrt(3/2 * 3.5) / 6
    val df = Seq(("k", 1.0, 2.0), ("k", 2.0, 4.0), ("k", 3.0, 9.0),
      ("solo", 1.0, 5.0)).toDF("key", "x", "y")
    val out = Stats.ratioOfSums(df, Seq("key"), "y", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Double]("ratio") == 2.5)
    assert(math.abs(k.getAs[Double]("se") -
      math.sqrt(1.5 * 3.5) / 6.0) < 1e-12)
    assert(math.abs(k.getAs[Double]("ci_hi") -
      (2.5 + 1.96 * k.getAs[Double]("se"))) < 1e-12)
    val solo = out("solo")
    assert(solo.getAs[Double]("ratio") == 5.0 &&
      solo.isNullAt(solo.fieldIndex("se")))
  }
  test("conformalQuantile: exact order statistic, small-n null, " +
    "coverage index") {
    // n=9, alpha=0.1: k = ceil(10*0.9) = 9 -> the max score
    val df9 = (1 to 9).map(i => ("k", i.toDouble, i.toLong))
      .toDF("key", "score", "id")
    val r9 = Stats.conformalQuantile(df9, Seq("key"), "score", "id",
      alpha = 0.1).collect().head
    assert(r9.getAs[Long]("k") == 9L && r9.getAs[Double]("q_hat") == 9.0)
    // n=19: k = ceil(20*0.9) = 18 -> the 18th smallest
    val df19 = (1 to 19).map(i => ("k", i.toDouble, i.toLong))
      .toDF("key", "score", "id")
    val r19 = Stats.conformalQuantile(df19, Seq("key"), "score", "id",
      alpha = 0.1).collect().head
    assert(r19.getAs[Long]("k") == 18L &&
      r19.getAs[Double]("q_hat") == 18.0)
    // n=5 at alpha 0.1: k = ceil(6*0.9) = 6 > n -> null (too few points)
    val df5 = (1 to 5).map(i => ("k", i.toDouble, i.toLong))
      .toDF("key", "score", "id")
    val r5 = Stats.conformalQuantile(df5, Seq("key"), "score", "id",
      alpha = 0.1).collect().head
    assert(r5.getAs[Long]("k") == 6L &&
      r5.isNullAt(r5.fieldIndex("q_hat")))
  }

  test("rocAuc: perfect separation, midrank ties, missing-class null") {
    // perfect: every positive above every negative
    val perf = Seq(("g", 1.0, false), ("g", 2.0, false),
      ("g", 3.0, true), ("g", 4.0, true)).toDF("g", "s", "y")
    val rp = Stats.rocAuc(perf, Seq("g"), "s", "y").collect().head
    assert(rp.getAs[Long]("n_pos") == 2L && rp.getAs[Long]("n_neg") == 2L)
    assert(rp.getAs[Double]("auc") == 1.0)
    // tie: pos {1,3}, neg {1,2} -> pairs 0.5+0+1+1 = 2.5/4
    val tied = Seq(("g", 1.0, true), ("g", 3.0, true),
      ("g", 1.0, false), ("g", 2.0, false)).toDF("g", "s", "y")
    val rt = Stats.rocAuc(tied, Seq("g"), "s", "y").collect().head
    assert(rt.getAs[Double]("auc") == 0.625)
    // all one class -> null auc, counts still report
    val one = Seq(("g", 1.0, true), ("g", 2.0, true)).toDF("g", "s", "y")
    val ro = Stats.rocAuc(one, Seq("g"), "s", "y").collect().head
    assert(ro.getAs[Long]("n_pos") == 2L && ro.isNullAt(ro.fieldIndex("auc")))
  }

  test("liftTable: perfect model gains, remainder buckets, boundary " +
    "tie broken by id") {
    // 10 rows, the 5 positives hold the top-5 scores, 5 buckets of 2
    val rows = (1 to 10).map(i => ("g", (11 - i).toDouble, i <= 5, i.toLong))
    val df = rows.toDF("g", "s", "y", "id")
    val out = Stats.liftTable(df, Seq("g"), "s", "y", "id", buckets = 5)
      .collect().map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(out(1).getAs[Long]("n") == 2L && out(1).getAs[Long]("pos") == 2L)
    assert(out(1).getAs[Double]("gain") == 0.4)
    assert(out(1).getAs[Double]("lift") == 2.0)
    assert(out(3).getAs[Long]("cum_pos") == 5L &&
      out(3).getAs[Double]("gain") == 1.0)
    assert(out(5).getAs[Double]("lift") == 1.0)
    // n=7, k=3: remainder rows land in the FIRST bucket (sizes 3,2,2)
    val df7 = (1 to 7).map(i => ("g", 1.0, i % 2 == 0, i.toLong))
      .toDF("g", "s", "y", "id")
    val sizes = Stats.liftTable(df7, Seq("g"), "s", "y", "id", buckets = 3)
      .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("n"))
      .toMap
    assert(sizes == Map(1L -> 3L, 2L -> 2L, 3L -> 2L))
    // all-tied scores: the id tie-break pins bucket membership — ids
    // 1..3 (one positive: id 2) must land in bucket 1 deterministically
    val b1pos = Stats.liftTable(df7, Seq("g"), "s", "y", "id", buckets = 3)
      .collect().find(_.getAs[Long]("bucket") == 1L).get.getAs[Long]("pos")
    assert(b1pos == 1L)
  }

  test("cramersV: perfect association = 1, independence = 0, " +
    "degenerate single level -> null") {
    // perfect 2x2: a determines b exactly -> chisq = n, V = 1
    val perf = Seq(("g", "x", "p"), ("g", "x", "p"),
      ("g", "y", "q"), ("g", "y", "q")).toDF("g", "a", "b")
    val rp = Stats.cramersV(perf, Seq("g"), "a", "b").collect().head
    assert(rp.getAs[Long]("n") == 4L && rp.getAs[Long]("r") == 2L)
    assert(rp.getAs[Double]("chisq") == 4.0)
    assert(rp.getAs[Double]("v") == 1.0)
    // independence: uniform 2x2 -> chisq 0, V 0
    val ind = Seq(("g", "x", "p"), ("g", "x", "q"),
      ("g", "y", "p"), ("g", "y", "q")).toDF("g", "a", "b")
    val ri = Stats.cramersV(ind, Seq("g"), "a", "b").collect().head
    assert(ri.getAs[Double]("chisq") == 0.0 && ri.getAs[Double]("v") == 0.0)
    // single b level: min(r,c)-1 = 0 -> null v, chisq still reports
    val deg = Seq(("g", "x", "p"), ("g", "y", "p")).toDF("g", "a", "b")
    val rd = Stats.cramersV(deg, Seq("g"), "a", "b").collect().head
    assert(rd.isNullAt(rd.fieldIndex("v")))
  }

  test("bestSplit: perfect split found, gain-tie picks the smallest " +
    "threshold, degenerate groups null") {
    // perfect: positives at v=1, negatives at v=2 -> split at 1, gain .5
    val perf = Seq(("g", 1.0, true), ("g", 1.0, true),
      ("g", 2.0, false), ("g", 2.0, false)).toDF("g", "v", "y")
    val rp = Stats.bestSplit(perf, Seq("g"), "v", "y").collect().head
    assert(rp.getAs[Double]("best_threshold") == 1.0)
    assert(rp.getAs[Double]("best_gain") == 0.5)
    // symmetric data: thresholds 1 and 3 tie exactly -> smallest wins
    val sym = Seq(("g", 1.0, true), ("g", 2.0, false),
      ("g", 3.0, false), ("g", 4.0, true)).toDF("g", "v", "y")
    val rs = Stats.bestSplit(sym, Seq("g"), "v", "y").collect().head
    assert(rs.getAs[Double]("best_threshold") == 1.0)
    assert(math.abs(rs.getAs[Double]("best_gain") - 1.0 / 6.0) < 1e-12)
    // one class / one distinct value -> nulls, counts still report
    val onec = Seq(("g", 1.0, true), ("g", 2.0, true)).toDF("g", "v", "y")
    val rc = Stats.bestSplit(onec, Seq("g"), "v", "y").collect().head
    assert(rc.getAs[Long]("n") == 2L &&
      rc.isNullAt(rc.fieldIndex("best_threshold")))
    val onev = Seq(("g", 1.0, true), ("g", 1.0, false)).toDF("g", "v", "y")
    val rv = Stats.bestSplit(onev, Seq("g"), "v", "y").collect().head
    assert(rv.isNullAt(rv.fieldIndex("best_gain")))
  }

  test("leakageScan: label-copy feature flags V=1, constant feature " +
    "null, independent feature 0 — one row per feature") {
    val df = Seq(("p", "p", "k", "x"), ("p", "p", "k", "y"),
      ("q", "q", "k", "x"), ("q", "q", "k", "y"))
      .toDF("label", "leaky", "const", "indep")
    val out = Stats.leakageScan(df, Seq("leaky", "const", "indep"),
      "label").collect().map(r => r.getAs[String]("feature") -> r).toMap
    assert(out.size == 3)
    assert(out("leaky").getAs[Double]("v") == 1.0)
    assert(out("const").isNullAt(out("const").fieldIndex("v")))
    assert(out("indep").getAs[Double]("v") == 0.0)
  }

  test("ridgeFit2: lambda=0 recovers an exact planar fit; " +
    "lambda>0 shrinks slopes toward zero") {
    // y = 2 + 3*x1 - 1*x2, exactly
    val rows = for (a <- 0 to 4; b <- 0 to 4)
      yield (a.toDouble, b.toDouble, 2.0 + 3 * a - b)
    val df = rows.toDF("x1", "x2", "y")
      .withColumn("g", org.apache.spark.sql.functions.lit("g"))
    val fit = Stats.ridgeFit2(df, Seq("g"), "y", "x1", "x2",
      lambda = 0.0).collect().head
    assert(math.abs(fit.getAs[Double]("b0") - 2.0) < 1e-9)
    assert(math.abs(fit.getAs[Double]("b1") - 3.0) < 1e-9)
    assert(math.abs(fit.getAs[Double]("b2") + 1.0) < 1e-9)
    val reg = Stats.ridgeFit2(df, Seq("g"), "y", "x1", "x2",
      lambda = 10.0).collect().head
    assert(math.abs(reg.getAs[Double]("b1")) < 3.0 &&
      reg.getAs[Double]("b1") > 0)
    assert(math.abs(reg.getAs[Double]("b2")) < 1.0 &&
      reg.getAs[Double]("b2") < 0)
  }

  test("ridgeFit2: degenerate groups emit null coefficients") {
    val df = Seq(
      ("tiny", 1.0, 2.0, 3.0), ("tiny", 2.0, 1.0, 4.0), // n < 3
      ("flat", 1.0, 1.0, 5.0), ("flat", 1.0, 1.0, 6.0),
      ("flat", 1.0, 1.0, 7.0) // zero variance -> det 0 at lambda 0
    ).toDF("g", "x1", "x2", "y")
    val out = Stats.ridgeFit2(df, Seq("g"), "y", "x1", "x2", 0.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("tiny").isNullAt(out("tiny").fieldIndex("b1")))
    assert(out("flat").isNullAt(out("flat").fieldIndex("b1")))
  }

  test("pca2: recovers the dominant direction of correlated data " +
    "and splits variance correctly for axis-aligned data") {
    // perfectly correlated along (1,1): lambda2 = 0, v = (1,1)/sqrt2
    val df = (0 to 9).map(i => ("c", i.toDouble, i.toDouble))
      .toDF("g", "x1", "x2")
    val r = Stats.pca2(df, Seq("g"), "x1", "x2").collect().head
    assert(math.abs(r.getAs[Double]("var_explained") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("v1") - math.sqrt(0.5)) < 1e-12)
    assert(math.abs(r.getAs[Double]("v2") - math.sqrt(0.5)) < 1e-12)
    // lambda1 = sample variance along the diagonal = 2*var(x)
    val varX = (0 to 9).map(i => (i - 4.5) * (i - 4.5)).sum / 9.0
    assert(math.abs(r.getAs[Double]("lambda1") - 2 * varX) < 1e-9)
    // axis-aligned: x1 varies, x2 constant -> v = (1,0)
    val ax = (0 to 9).map(i => ("a", i.toDouble, 5.0))
      .toDF("g", "x1", "x2")
    val ra = Stats.pca2(ax, Seq("g"), "x1", "x2").collect().head
    assert(ra.getAs[Double]("v1") == 1.0 && ra.getAs[Double]("v2") == 0.0)
    assert(math.abs(ra.getAs[Double]("lambda1") - varX) < 1e-9)
    assert(ra.getAs[Double]("lambda2") == 0.0)
  }

  test("pca2: sign convention is deterministic for anti-correlated " +
    "data (v1 > 0, v2 < 0)") {
    val df = (0 to 9).map(i => ("g", i.toDouble, -i.toDouble))
      .toDF("g", "x1", "x2")
    val r = Stats.pca2(df, Seq("g"), "x1", "x2").collect().head
    assert(r.getAs[Double]("v1") > 0 && r.getAs[Double]("v2") < 0)
  }

  test("robustZScores: hand medians/MAD; outlier scored, zero-MAD " +
    "group nulls, outlier cannot poison the scale") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("a", 1000.0), ("z", 7.0), ("z", 7.0), ("z", 7.0))
      .toDF("g", "v")
    val out = Stats.robustZScores(df, Seq("g"), "v").collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r).toMap
    // a: lower median of {1,2,3,4,1000} = 3; |dev| = {2,1,0,1,997},
    // lower MAD = 1
    val a = out(("a", 1000.0))
    assert(a.getAs[Double]("median") == 3.0 &&
      a.getAs[Double]("mad") == 1.0)
    assert(math.abs(a.getAs[Double]("score") - 997.0 / 1.4826) < 1e-9)
    // the inlier at 2.0 stays un-flagged despite the 1000 outlier
    assert(math.abs(out(("a", 2.0)).getAs[Double]("score")) < 1.0)
    // constant group: MAD 0 -> null score
    val z = out(("z", 7.0))
    assert(z.getAs[Double]("mad") == 0.0 &&
      z.isNullAt(z.fieldIndex("score")))
  }

  private def acfTs(i: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 00:$i%02d:00")

  test("acf: alternating series is exactly -1 at lag 1; constant " +
    "series and thin lags emit null") {
    val alt = (0 until 6).map(i => ("a", acfTs(i), i.toLong,
      if (i % 2 == 0) 1.0 else 2.0))
    val const = (0 until 6).map(i => ("c", acfTs(i), i.toLong, 5.0))
    val df = (alt ++ const).toDF("k", "ts", "id", "v")
    val out = Stats.acf(df, Seq("k"), "ts", "id", "v", maxLag = 5)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    val a1 = out(("a", 1))
    assert(a1.getLong(2) == 5L)
    assert(math.abs(a1.getDouble(3) + 1.0) < 1e-12)
    // lag 2 of the alternation is perfectly +1
    assert(math.abs(out(("a", 2)).getDouble(3) - 1.0) < 1e-12)
    // lag 5 has one pair (n < 3) -> null corr, row still present
    val a5 = out(("a", 5))
    assert(a5.getLong(2) == 1L && a5.isNullAt(3))
    // constant series: zero variance at every lag -> null
    (1 to 5).foreach(l => assert(out(("c", l)).isNullAt(3)))
  }

  test("pacf: Durbin-Levinson closed forms at lags 1-2; constant " +
    "series emits nothing; thin lags cut the prefix") {
    val xs = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 7.0, 6.0, 9.0)
    val df = (xs.zipWithIndex.map { case (x, i) =>
      ("a", acfTs(i), i.toLong, x)
    } ++ (0 until 6).map(i => ("c", acfTs(i), i.toLong, 5.0)))
      .toDF("k", "ts", "id", "v")
    val r = Stats.acf(df, Seq("k"), "ts", "id", "v", maxLag = 3)
      .collect().filter(_.getString(0) == "a")
      .map(x => x.getInt(1) -> x.getDouble(3)).toMap
    val out = Stats.pacf(df, Seq("k"), "ts", "id", "v", maxLag = 3)
      .collect().map(x => (x.getString(0), x.getInt(1)) -> x.getDouble(2))
      .toMap
    // pacf(1) = r1; pacf(2) = (r2 - r1^2) / (1 - r1^2)
    assert(out(("a", 1)) == r(1))
    assert(math.abs(out(("a", 2)) -
      (r(2) - r(1) * r(1)) / (1.0 - r(1) * r(1))) < 1e-12)
    assert(out.contains(("a", 3)))
    // constant series: every acf null -> zero pacf rows
    assert(!out.keys.exists(_._1 == "c"))
    // series of 4 points, maxLag 8: acf stops at lag 3 (n>=3 needs
    // pairs), so pacf emits exactly the contiguous prefix
    val short = (0 until 4).map(i => ("s", acfTs(i), i.toLong,
      Seq(2.0, 9.0, 4.0, 7.0)(i))).toDF("k", "ts", "id", "v")
    val sp = Stats.pacf(short, Seq("k"), "ts", "id", "v", maxLag = 8)
      .collect().map(_.getInt(1)).sorted.toSeq
    assert(sp == Seq(1))
  }

  test("ccf: y built as x-shifted-right gives corr 1 exactly at " +
    "lag +1; zero-variance y emits null") {
    val xs = Seq(1.0, 5.0, 2.0, 8.0, 3.0, 9.0)
    val ys = 0.0 +: xs.init // y_t = x_{t-1}
    val a = xs.zip(ys).zipWithIndex.map { case ((x, y), i) =>
      ("a", acfTs(i), i.toLong, x, y)
    }
    val c = (0 until 6).map(i => ("c", acfTs(i), i.toLong, i * 1.0, 4.0))
    val out = Stats.ccf((a ++ c).toDF("k", "ts", "id", "x", "y"),
      Seq("k"), "ts", "id", "x", "y", maxLag = 2)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    assert(out.size == 10) // 2 keys x lags -2..2
    val a1 = out(("a", 1))
    assert(a1.getLong(2) == 5L)
    assert(math.abs(a1.getDouble(3) - 1.0) < 1e-12)
    assert(math.abs(out(("a", 0)).getDouble(3)) < 1.0 - 1e-9)
    // constant y: zero variance at every lag -> null
    (-2 to 2).foreach(l => assert(out(("c", l)).isNullAt(3)))
  }

  test("acf: hand Pearson at lag 2; lags past the series length " +
    "emit no rows; null ts/value rows dropped") {
    val xs = Seq(1.0, 3.0, 2.0, 5.0, 4.0)
    val df = xs.zipWithIndex.map { case (x, i) =>
      ("k", Some(acfTs(i)), i.toLong, Some(x))
    } :+ (("k", Option.empty[java.sql.Timestamp], 99L, Some(9.0)))
    val out = Stats.acf(df.toDF("k", "ts", "id", "v"),
      Seq("k"), "ts", "id", "v", maxLag = 8)
    val rows = out.collect().map(r => r.getInt(1) -> r).toMap
    // pairs exist only for lags 1..4 (5 points)
    assert(rows.keySet == Set(1, 2, 3, 4))
    // lag 2: x=[2,5,4] vs y=[1,3,2] -> r = 9/sqrt(14*6)
    val r2 = rows(2)
    assert(r2.getLong(2) == 3L)
    assert(math.abs(r2.getDouble(3) - 9.0 / math.sqrt(84.0)) < 1e-12)
  }

  test("friedman: hand chi2 = 4 with and without ties; incomplete " +
    "block dropped; all-tied key null") {
    // two identical blocks ranking treatments a<b<c -> chi2 = 4
    val clean = for {
      b <- Seq(1L, 2L)
      (t, v) <- Seq(("a", 1.0), ("b", 2.0), ("c", 3.0))
    } yield ("k", b, t, v)
    // block 3 misses treatment c -> dropped (complete blocks only)
    val partial = Seq(("k", 3L, "a", 9.0), ("k", 3L, "b", 1.0))
    // tied variant: a = b < c in both blocks -> chi2 still 4
    val tied = for {
      b <- Seq(1L, 2L)
      (t, v) <- Seq(("a", 1.0), ("b", 1.0), ("c", 3.0))
    } yield ("t", b, t, v)
    // all values equal -> zero denominator -> null
    val flat = for {
      b <- Seq(1L, 2L); t <- Seq("a", "b")
    } yield ("z", b, t, 5.0)
    val df = (clean ++ partial ++ tied ++ flat)
      .toDF("key", "blk", "trt", "v")
    val out = Stats.friedman(df, Seq("key"), "blk", "trt", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("k").getAs[Long]("n_blocks") == 2L)
    assert(out("k").getAs[Long]("k_treatments") == 3L)
    assert(out("k").getAs[Double]("chi2_f") == 4.0)
    // ties: ranks (1.5, 1.5, 3) per block -> Conover form gives 4
    assert(out("t").getAs[Double]("chi2_f") == 4.0)
    assert(out("z").isNullAt(out("z").fieldIndex("chi2_f")))
  }

  test("cochranQ: k = 2 reduces to McNemar's uncorrected chi2; " +
    "k = 3 hand Q = 3; incomplete subject dropped; flat key null") {
    // k = 2: b = 2 (A-only), c = 1 (B-only) -> Q = 1/3 = McNemar
    val two = Seq(
      ("k", 1L, "A", true), ("k", 1L, "B", false),
      ("k", 2L, "A", true), ("k", 2L, "B", false),
      ("k", 3L, "A", false), ("k", 3L, "B", true),
      ("k", 4L, "A", true), ("k", 4L, "B", true),
      ("k", 5L, "A", false), ("k", 5L, "B", false),
      ("k", 6L, "A", true)) // B never observed -> excluded
    // k = 3 hand: rows (1,1,0),(1,0,0),(1,1,1) -> G = (3,2,1),
    // N = 6, SumG2 = 14, SumL2 = 14 -> Q = 2*(42-36)/(18-14) = 3
    val three = Seq(
      ("h", 1L, "A", true), ("h", 1L, "B", true), ("h", 1L, "C", false),
      ("h", 2L, "A", true), ("h", 2L, "B", false), ("h", 2L, "C", false),
      ("h", 3L, "A", true), ("h", 3L, "B", true), ("h", 3L, "C", true))
    // every subject all-success -> denominator 0 -> null
    val flat = Seq(("z", 1L, "A", true), ("z", 1L, "B", true))
    val df = (two ++ three ++ flat).toDF("key", "subj", "trt", "y")
    val out = Stats.cochranQ(df, Seq("key"), "subj", "trt", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("k").getAs[Long]("n_subjects") == 5L)
    assert(out("k").getAs[Double]("q") == 1.0 / 3.0)
    assert(out("h").getAs[Long]("n_success") == 6L)
    assert(out("h").getAs[Double]("q") == 3.0)
    assert(out("z").isNullAt(out("z").fieldIndex("q")))
  }

  test("jarqueBera: symmetric two-point sample has skew exactly 0, " +
    "kurtosis -2, jb = n/6; constant and singleton keys null") {
    val df = (Seq(1.0, 1.0, 3.0, 3.0).map(("k", _)) ++
      Seq(("c", 5.0), ("c", 5.0), ("s", 7.0))).toDF("key", "v")
    val out = Stats.jarqueBera(df, Seq("key"), "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // m2 = 1e4 cents^2, m3 = 0 exactly, m4 = 1e8 -> g2 = -2
    assert(k.getAs[Double]("skewness") == 0.0)
    assert(k.getAs[Double]("kurtosis_excess") == -2.0)
    assert(k.getAs[Double]("jb") == 4.0 / 6.0 * 1.0)
    assert(out("c").isNullAt(out("c").fieldIndex("jb"))) // zero var
    assert(out("s").isNullAt(out("s").fieldIndex("jb"))) // n = 1
  }

  test("partialCorr: orthogonal confounder leaves r_xy as the " +
    "partial; z = x nulls it; zero-variance z nulls its pairs") {
    // x and y perfectly correlated, z orthogonal to both
    val a = Seq((1.0, 2.0, 1.0), (2.0, 4.0, 1.0),
      (1.0, 2.0, 2.0), (2.0, 4.0, 2.0)).map { case (x, y, z) =>
      ("k", x, y, z) }
    // z == x -> |r_xz| = 1 -> partial undefined
    val b = Seq(("d", 1.0, 2.0, 1.0), ("d", 2.0, 3.0, 2.0),
      ("d", 3.0, 5.0, 3.0))
    // constant z
    val c = Seq(("z", 1.0, 2.0, 7.0), ("z", 2.0, 1.0, 7.0))
    val out = Stats.partialCorr((a ++ b ++ c).toDF("key", "x", "y", "z"),
      Seq("key"), "x", "y", "z")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(math.abs(out("k").getAs[Double]("r_xy") - 1.0) < 1e-12)
    assert(out("k").getAs[Double]("r_xz") == 0.0)
    assert(out("k").getAs[Double]("r_yz") == 0.0)
    assert(math.abs(out("k").getAs[Double]("r_partial") - 1.0) < 1e-12)
    assert(out("d").isNullAt(out("d").fieldIndex("r_partial")))
    assert(out("z").isNullAt(out("z").fieldIndex("r_xz")))
    assert(out("z").isNullAt(out("z").fieldIndex("r_partial")))
    assert(!out("z").isNullAt(out("z").fieldIndex("r_xy")))
  }

  test("linCcc: identity agreement scores exactly 1; constant bias " +
    "drops ccc below a perfect r; flat pair null") {
    val ident = Seq(1.0, 2.0, 3.0).map(v => ("i", v, v))
    val biased = Seq(1.0, 2.0, 3.0).map(v => ("b", v, v + 1.0))
    val flat = Seq(("f", 5.0, 5.0), ("f", 5.0, 5.0))
    val out = Stats.linCcc((ident ++ biased ++ flat)
      .toDF("key", "x", "y"), Seq("key"), "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("i").getAs[Double]("ccc") == 1.0)
    assert(out("i").getAs[Double]("mean_x") == 2.0)
    assert(math.abs(out("b").getAs[Double]("r") - 1.0) < 1e-12)
    // same shape, unit shift: ccc = 2s/(2s + 1) < r
    val s = 14.0 / 3.0 - 2.0 * 2.0
    assert(math.abs(out("b").getAs[Double]("ccc") -
      2.0 * s / (s + s + 1.0 * 1.0)) < 1e-9)
    assert(out("b").getAs[Double]("ccc") < out("b").getAs[Double]("r"))
    assert(out("f").isNullAt(out("f").fieldIndex("ccc")))
  }

  test("chowTest: perfect opposite-slope segments give zero SSRs " +
    "and null F (zero residual); hand F = 3.5; short segment null") {
    val mk = (k: String, seg: Boolean, pts: Seq[(Double, Double)]) =>
      pts.map { case (x, y) => (k, seg, x, y) }
    val perfect = mk("k", false, Seq((1, 1), (2, 2), (3, 3))) ++
      mk("k", true, Seq((1, 3), (2, 2), (3, 1)))
    val noisy = mk("h", false, Seq((1, 1), (2, 2), (3, 2))) ++
      mk("h", true, Seq((1, 2), (2, 1), (3, 1)))
    val short = mk("z", false, Seq((1, 1), (2, 2))) ++
      mk("z", true, Seq((1, 3), (2, 2), (3, 1)))
    val out = Stats.chowTest((perfect ++ noisy ++ short)
      .toDF("key", "seg", "x", "y"), Seq("key"), "seg", "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("k").getAs[Double]("ssr_pre") == 0.0)
    assert(out("k").getAs[Double]("ssr_post") == 0.0)
    assert(out("k").getAs[Double]("ssr_pooled") == 4.0)
    assert(out("k").isNullAt(out("k").fieldIndex("f_chow")))
    // pooled cxy = 0 -> ssr_p = 1.5; residual 1/3, n - 4 = 2 ->
    // F = ((1.5 - 1/3)/2) / ((1/3)/2) = 3.5
    assert(math.abs(out("h").getAs[Double]("f_chow") - 3.5) < 1e-9)
    assert(out("z").isNullAt(out("z").fieldIndex("f_chow")))
  }

  test("cronbachAlpha: hand 2x2 grid alpha = 8/9; incomplete " +
    "subject excluded; single-subject key null") {
    val df = Seq(
      ("k", 1L, "i1", 1.0), ("k", 1L, "i2", 2.0),
      ("k", 2L, "i1", 3.0), ("k", 2L, "i2", 6.0),
      ("k", 3L, "i1", 9.0), // i2 missing -> dropped
      ("z", 7L, "i1", 1.0), ("z", 7L, "i2", 2.0)
    ).toDF("key", "subj", "item", "v")
    val out = Stats.cronbachAlpha(df, Seq("key"), "subj", "item", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Long]("n_subjects") == 2L)
    assert(k.getAs[Long]("k_items") == 2L)
    // item vars 20000 + 80000 cents^2, total var 180000
    assert(k.getAs[Double]("item_var_sum") == 100000.0)
    assert(k.getAs[Double]("total_var") == 180000.0)
    assert(k.getAs[Double]("alpha") ==
      2.0 / 1.0 * (1.0 - 100000.0 / 180000.0))
    assert(out("z").isNullAt(out("z").fieldIndex("alpha")))
  }

  test("diversityIndex: balanced two-category key hits Shannon = " +
    "ln 2 and evenness exactly 1; singleton category degenerates") {
    val df = (Seq("a", "a", "b", "b").map(("k", _)) ++
      Seq("x", "x", "x").map(("s", _)) ++ Seq(("u", "y")))
      .toDF("key", "cat")
    val out = Stats.diversityIndex(df, Seq("key"), "cat")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Long]("richness") == 2L)
    assert(k.getAs[Double]("simpson") == 4.0 / 12.0)
    assert(k.getAs[Double]("shannon") == math.log(2.0))
    assert(k.getAs[Double]("evenness") == 1.0)
    assert(out("s").getAs[Double]("simpson") == 1.0)
    assert(out("s").getAs[Double]("shannon") == 0.0)
    assert(out("s").isNullAt(out("s").fieldIndex("evenness")))
    assert(out("u").isNullAt(out("u").fieldIndex("simpson"))) // n = 1
  }

  test("bartlett: equal variances hit exactly 0; hand M/C chain; " +
    "zero-variance and singleton groups null") {
    val eq = Seq(("e", 0L, 1.0), ("e", 0L, 2.0), ("e", 0L, 3.0),
      ("e", 1L, 4.0), ("e", 1L, 5.0), ("e", 1L, 6.0))
    val uneq = Seq(("k", 0L, 1.0), ("k", 0L, 2.0), ("k", 0L, 3.0),
      ("k", 1L, 2.0), ("k", 1L, 4.0), ("k", 1L, 6.0))
    val flat = Seq(("f", 0L, 5.0), ("f", 0L, 5.0),
      ("f", 1L, 1.0), ("f", 1L, 2.0))
    val single = Seq(("s", 0L, 1.0), ("s", 0L, 2.0), ("s", 1L, 9.0))
    val out = Stats.bartlett((eq ++ uneq ++ flat ++ single)
      .toDF("key", "g", "v"), Seq("key"), "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    // identical spreads: 4ln(sp2) - (2ln(s2) + 2ln(s2)) = 0 exactly
    assert(out("e").getAs[Double]("bartlett_chi2") == 0.0)
    val b = 2.0 * math.log(20000.0 / 2.0) +
      2.0 * math.log(80000.0 / 2.0)
    val bigM = 4.0 * math.log(100000.0 / 4.0) - b
    val cc = 1.0 + (1.0 - 1.0 / 4.0) / (3.0 * 1.0)
    assert(out("k").getAs[Double]("bartlett_chi2") == bigM / cc)
    assert(out("f").isNullAt(out("f").fieldIndex("bartlett_chi2")))
    assert(out("s").isNullAt(out("s").fieldIndex("bartlett_chi2")))
  }

  test("grubbs: exact integer argmax finds the outlier, pinned G; " +
    "ties take the larger value; n < 3 null") {
    val df = (Seq(1.0, 2.0, 3.0, 10.0).map(("k", _)) ++
      Seq(("t", 1.0), ("t", 3.0)) ++
      Seq(("c", 5.0), ("c", 5.0), ("c", 5.0))).toDF("key", "v")
    val out = Stats.grubbs(df, Seq("key"), "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Double]("outlier_value") == 10.0)
    val s2 = (1140000.0 - 1600.0 * 1600.0 / 4.0) / 3.0
    assert(k.getAs[Double]("g_stat") == 2400.0 / 4.0 / math.sqrt(s2))
    // symmetric pair: equal deviations, larger value reports
    assert(out("t").getAs[Double]("outlier_value") == 3.0)
    assert(out("t").isNullAt(out("t").fieldIndex("g_stat"))) // n = 2
    assert(out("c").isNullAt(out("c").fieldIndex("g_stat"))) // flat
  }

  test("wilcoxonSignedRank: balanced signed ranks hit z = 0 " +
    "exactly; tie correction by hand; zero diffs drop") {
    // diffs +1, +2, -3: W2+ = 2 + 4 = 6 = E2 -> z = 0
    val bal = Seq(
      ("k", 1L, "A", 2.0), ("k", 1L, "B", 1.0),
      ("k", 2L, "A", 5.0), ("k", 2L, "B", 3.0),
      ("k", 3L, "A", 1.0), ("k", 3L, "B", 4.0),
      ("k", 4L, "A", 7.0), ("k", 4L, "B", 7.0)) // zero diff drops
    // diffs +1, -1, +2: tied |d| pair -> r2 = 3, 3; then 6
    val tied = Seq(
      ("t", 1L, "A", 2.0), ("t", 1L, "B", 1.0),
      ("t", 2L, "A", 1.0), ("t", 2L, "B", 2.0),
      ("t", 3L, "A", 3.0), ("t", 3L, "B", 1.0))
    val out = Stats.wilcoxonSignedRank((bal ++ tied)
      .toDF("key", "subj", "cond", "v"),
      Seq("key"), "subj", "cond", "A", "B", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("k").getAs[Long]("n_pairs") == 3L)
    assert(out("k").getAs[Double]("w_plus") == 3.0)
    assert(out("k").getAs[Double]("z") == 0.0)
    // W2+ = 3 + 6 = 9, E2 = 6, SumT = 6, V2 = 14 - 0.5 = 13.5
    assert(out("t").getAs[Double]("w_plus") == 4.5)
    assert(out("t").getAs[Double]("z") ==
      3.0 / math.sqrt(3.0 * 4.0 * 7.0 / 6.0 - 6.0 / 12.0))
  }

  test("logRank: identical groups give chi2 = 0; hand two-time " +
    "O/E/V walk; censoring reduces at-risk") {
    // identical survival in both groups -> O = E exactly
    val same = for {
      g <- Seq(true, false); (d, e) <- Seq((1.0, true), (2.0, true))
    } yield ("s", g, d, e)
    // hand case: g1 = {1 event@1, censored@2}, g0 = {event@2, event@3}
    val hand = Seq(("k", true, 1.0, true), ("k", true, 2.0, false),
      ("k", false, 2.0, true), ("k", false, 3.0, true))
    val out = Stats.logRank((same ++ hand).toDF("key", "g", "d", "e"),
      Seq("key"), "g", "d", "e")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("s").getAs[Double]("chi2") == 0.0)
    val k = out("k")
    assert(k.getAs[Long]("n_events_1") == 1L)
    assert(k.getAs[Long]("n_events_0") == 2L)
    // t=100: n1=2, n=4, d=1 -> E += 0.5, V = 1*(0.5)(0.5)(3)/3 = 0.25
    // t=200: n1=1, n=3, d=1 -> E += 1/3, V += (1/3)(2/3)(2)/2 = 2/9
    // t=300: n1=0 -> E += 0, V += 0
    val e1 = 2.0 / 4.0 * 1.0 + 1.0 / 3.0 * 1.0 + 0.0
    assert(k.getAs[Double]("expected_1") == e1)
    val v = 1.0 * (2.0 / 4.0) * (1.0 - 2.0 / 4.0) * 3.0 / 3.0 +
      1.0 * (1.0 / 3.0) * (1.0 - 1.0 / 3.0) * 2.0 / 2.0 +
      0.0
    assert(k.getAs[Double]("chi2") ==
      (1.0 - e1) * (1.0 - e1) / v)
  }

  test("logRank: lone last at-risk subject in GROUP 1 dying " +
    "contributes E = 1 exactly (O moves with E, survdiff parity)") {
    // g1 = {event@1, event@3}, g0 = {event@2}: at t=300 only the
    // group-1 subject remains at risk and dies -> that time must
    // add 1 to E (and 0 to V), not be skipped; skipping would
    // inflate O - E by +1 and fabricate chi2 > 0 here.
    val df = Seq(("k", true, 1.0, true), ("k", true, 3.0, true),
      ("k", false, 2.0, true)).toDF("key", "g", "d", "e")
    val out = Stats.logRank(df, Seq("key"), "g", "d", "e")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Long]("n_events_1") == 2L)
    // t=100: n1=2, n=3, d=1 -> E += 2/3, V += (2/3)(1/3)(2)/2 = 2/9
    // t=200: n1=1, n=2, d=1 -> E += 1/2, V += (1/2)(1/2)(1)/1 = 1/4
    // t=300: n1=1, n=1, d=1 -> E += 1 (V += 0: n-1 degenerate)
    val e1 = 2.0 / 3.0 + 1.0 / 2.0 + 1.0
    assert(k.getAs[Double]("expected_1") == e1)
    val v = 1.0 * (2.0 / 3.0) * (1.0 / 3.0) * 2.0 / 2.0 +
      1.0 * (1.0 / 2.0) * (1.0 / 2.0) * 1.0 / 1.0
    assert(k.getAs[Double]("chi2") ==
      (2.0 - e1) * (2.0 - e1) / v)
  }

  test("ljungBox: hand two-lag Q on an alternating series; short " +
    "and flat keys null") {
    def rows(k: String, vs: Seq[Double]) = vs.zipWithIndex.map {
      case (v, i) => (k, acfTs(i), i.toLong, v) }
    val df = (rows("k", Seq(1.0, 2.0, 1.0, 2.0, 1.0)) ++
      rows("s", Seq(1.0, 2.0)) ++
      rows("f", Seq(3.0, 3.0, 3.0, 3.0))).toDF("key", "ts", "id", "v")
    val out = Stats.ljungBox(df, Seq("key"), "ts", "id", "v",
      maxLag = 2).collect().map(r => r.getString(0) -> r).toMap
    // c0 = 12000, C1 = -9600, C2 = 6800 (exact integer chains)
    val r1 = -9600.0 / 12000.0
    val r2 = 6800.0 / 12000.0
    val q = 5.0 * (5.0 + 2.0) *
      (0.0 + r1 * r1 / (5.0 - 1.0) + r2 * r2 / (5.0 - 2.0))
    assert(out("k").getAs[Double]("lb_q") == q)
    assert(out("s").isNullAt(out("s").fieldIndex("lb_q"))) // n <= h
    assert(out("f").isNullAt(out("f").fieldIndex("lb_q"))) // c0 = 0
  }

  test("mannKendall: monotone series hit S = ±n0 with continuity " +
    "z; tie pair contributes 0 and its cubic term subtracts") {
    def rows(k: String, vs: Seq[Double]) = vs.zipWithIndex.map {
      case (v, i) => (k, acfTs(i), i.toLong, v) }
    val df = (rows("up", Seq(1.0, 2.0, 3.0, 4.0)) ++
      rows("dn", Seq(4.0, 3.0, 2.0, 1.0)) ++
      rows("t", Seq(1.0, 1.0, 2.0)) ++
      rows("z", Seq(5.0, 5.0, 5.0))).toDF("key", "ts", "id", "v")
    val out = Stats.mannKendall(df, Seq("key"), "ts", "id", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("up").getAs[Long]("s") == 6L)
    assert(out("up").getAs[Long]("var_num") == 156L)
    assert(out("up").getAs[Double]("z") ==
      5.0 / math.sqrt(156.0 / 18.0))
    assert(out("dn").getAs[Long]("s") == -6L)
    assert(out("dn").getAs[Double]("z") ==
      -5.0 / math.sqrt(156.0 / 18.0))
    assert(out("t").getAs[Long]("s") == 2L)
    assert(out("t").getAs[Long]("var_num") == 48L)
    assert(out("z").getAs[Long]("s") == 0L)
    assert(out("z").isNullAt(out("z").fieldIndex("z"))) // var 0
  }

  test("grangerF: hand 2-regressor SSR chains and F; short key " +
    "null") {
    def rows(k: String, xs: Seq[Double], ys: Seq[Double]) =
      xs.zip(ys).zipWithIndex.map { case ((x, y), i) =>
        (k, acfTs(i), i.toLong, y, x) }
    val df = (rows("k", Seq(1.0, 2.0, 1.0, 2.0, 1.0),
      Seq(1.0, 3.0, 2.0, 5.0, 4.0)) ++
      rows("s", Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)))
      .toDF("key", "ts", "id", "y", "x")
    val out = Stats.grangerF(df, Seq("key"), "ts", "id", "y", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // hand moments (input units): cyy 5, c11 8.75, c22 1,
    // cy1 0.5, cx1 -1, c12 2.5 -> det 2.5
    val ssrR = 5.0 - 0.5 * 0.5 / 8.75
    val num = 1.0 * 0.5 * 0.5 - 2.0 * 2.5 * 0.5 * (-1.0) +
      8.75 * (-1.0) * (-1.0)
    val ssrU = 5.0 - num / 2.5
    assert(k.getAs[Double]("ssr_restricted") == ssrR)
    assert(k.getAs[Double]("ssr_unrestricted") == ssrU)
    assert(k.getAs[Double]("f_granger") ==
      (ssrR - ssrU) / (ssrU / (4.0 - 3.0)))
    // collinear/short: only 2 lagged rows -> n < 4 -> null
    assert(out("s").isNullAt(out("s").fieldIndex("f_granger")))
  }

  test("cmhTest: hand two-stratum E/V/OR walk; n = 1 stratum is " +
    "neutral; all-degenerate key null") {
    def rows(k: String, st: Long, ex: Boolean, oc: Boolean, n: Int) =
      Seq.fill(n)((k, st, ex, oc))
    val s1 = rows("k", 0L, true, true, 2) ++
      rows("k", 0L, true, false, 1) ++ rows("k", 0L, false, true, 1) ++
      rows("k", 0L, false, false, 2)
    val s2 = rows("k", 1L, true, true, 1) ++
      rows("k", 1L, true, false, 1) ++ rows("k", 1L, false, true, 1) ++
      rows("k", 1L, false, false, 1)
    val deg = rows("z", 0L, true, true, 1) // single row -> neutral
    val out = Stats.cmhTest((s1 ++ s2 ++ deg)
      .toDF("key", "st", "ex", "oc"), Seq("key"), "st", "ex", "oc")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // s1: E = 3*3/6, V = 81/180, ad/n = 4/6, bc/n = 1/6
    // s2: E = 1, V = 16/48, ad/n = 1/4, bc/n = 1/4
    val e = 3.0 * 3.0 / 6.0 + 2.0 * 2.0 / 4.0
    val v = 3.0 * 3.0 * 3.0 * 3.0 / (6.0 * 6.0 * 5.0) +
      2.0 * 2.0 * 2.0 * 2.0 / (4.0 * 4.0 * 3.0)
    assert(k.getAs[Long]("sum_a") == 3L)
    assert(k.getAs[Double]("expected_a") == e)
    assert(k.getAs[Double]("cmh_chi2") == (3.0 - e) * (3.0 - e) / v)
    assert(k.getAs[Double]("or_mh") ==
      (2.0 * 2.0 / 6.0 + 1.0 * 1.0 / 4.0) /
        (1.0 * 1.0 / 6.0 + 1.0 * 1.0 / 4.0))
    assert(out("z").getAs[Long]("n_strata") == 1L)
    assert(out("z").isNullAt(out("z").fieldIndex("cmh_chi2")))
  }

  test("pageTrend: perfect rising trend hits z = 2 exactly on a " +
    "2x3 grid; falling trend -2; all-tied blocks z = 0") {
    val up = for {
      b <- Seq(1L, 2L); (t, v) <- Seq((0L, 1.0), (1L, 2.0), (2L, 3.0))
    } yield ("u", b, t, v)
    val dn = for {
      b <- Seq(1L, 2L); (t, v) <- Seq((0L, 3.0), (1L, 2.0), (2L, 1.0))
    } yield ("d", b, t, v)
    val flat = for {
      b <- Seq(1L, 2L); t <- Seq(0L, 1L, 2L)
    } yield ("f", b, t, 5.0)
    val out = Stats.pageTrend((up ++ dn ++ flat)
      .toDF("key", "blk", "trt", "v"), Seq("key"), "blk", "trt", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    // L = 28 (max), E = 24, sd(L2) = 4 -> z = 2
    assert(out("u").getAs[Double]("l_stat") == 28.0)
    assert(out("u").getAs[Double]("z") == 2.0)
    assert(out("d").getAs[Double]("l_stat") == 20.0)
    assert(out("d").getAs[Double]("z") == -2.0)
    assert(out("f").getAs[Double]("z") == 0.0) // L2 = E2 under ties
  }

  test("jonckheereTerpstra: perfectly rising groups hit max JT; " +
    "cross-group ties count half; single group null") {
    val rising = Seq(("k", 0L, 1.0), ("k", 0L, 2.0),
      ("k", 1L, 3.0), ("k", 1L, 4.0), ("k", 2L, 5.0), ("k", 2L, 6.0))
    val tied = Seq(("t", 0L, 1.0), ("t", 0L, 1.0),
      ("t", 1L, 1.0), ("t", 1L, 2.0))
    val solo = Seq(("s", 0L, 1.0), ("s", 0L, 2.0))
    val out = Stats.jonckheereTerpstra((rising ++ tied ++ solo)
      .toDF("key", "g", "v"), Seq("key"), "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // every cross pair concordant: JT = 12 (max), E = 6
    assert(k.getAs[Double]("jt") == 12.0)
    val varNum = 6L * 6L * 15L - 3L * (4L * 7L)
    assert(k.getAs[Double]("z") ==
      (2.0 * 24.0 - 24.0) / 4.0 / math.sqrt(varNum.toDouble / 72.0))
    // 2 strict wins + 2 cross ties -> JT = 2 + 2*0.5 = 3
    assert(out("t").getAs[Double]("jt") == 3.0)
    assert(out("s").isNullAt(out("s").fieldIndex("z")))
  }

  test("ordinalAssociation: perfect concordance scores 1 across " +
    "the panel; margin ties split gamma from Somers' D and tau-b") {
    val perfect = Seq(("p", 1.0, 1.0), ("p", 2.0, 2.0), ("p", 3.0, 3.0))
    val tied = Seq(("t", 1.0, 1.0), ("t", 1.0, 2.0), ("t", 2.0, 2.0))
    val out = Stats.ordinalAssociation((perfect ++ tied)
      .toDF("key", "x", "y"), Seq("key"), "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("p").getAs[Double]("gamma") == 1.0)
    assert(out("p").getAs[Double]("somers_dyx") == 1.0)
    // s = 1, P+Q = 1, n0-n1 = n0-n2 = 2
    val t = out("t")
    assert(t.getAs[Long]("s") == 1L)
    assert(t.getAs[Double]("gamma") == 1.0)
    assert(t.getAs[Double]("somers_dyx") == 0.5)
    assert(t.getAs[Double]("somers_dxy") == 0.5)
    assert(t.getAs[Double]("tau_b") == 1.0 / math.sqrt(2.0 * 2.0))
  }

  test("fisherExact: the tea-tasting table hits the exact 17/35 " +
    "and 17/70 tails; degenerate margin gives p = 1") {
    def rows(k: String, ex: Boolean, oc: Boolean, n: Int) =
      Seq.fill(n)((k, ex, oc))
    // a=3, b=1, c=1, d=3: pmf 1,16,36,16,1 over 70
    val tea = rows("k", true, true, 3) ++ rows("k", true, false, 1) ++
      rows("k", false, true, 1) ++ rows("k", false, false, 3)
    val deg = rows("z", true, true, 2) ++ rows("z", false, true, 2)
    val out = Stats.fisherExact((tea ++ deg).toDF("key", "ex", "oc"),
      Seq("key"), "ex", "oc")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Long]("a") == 3L && k.getAs[Long]("n") == 8L)
    assert(math.abs(k.getAs[Double]("p_two_sided") - 17.0 / 35.0)
      < 1e-12)
    assert(math.abs(k.getAs[Double]("p_greater") - 17.0 / 70.0)
      < 1e-12)
    // all-outcome margin: the only possible table -> p = 1 exactly
    assert(out("z").getAs[Double]("p_two_sided") == 1.0)
    assert(out("z").getAs[Double]("p_greater") == 1.0)
  }

  test("fisherExact: a key whose pmf support exceeds maxExactMargin " +
    "fails with the chi2/two-prop-z message, not an allocation") {
    def rows(k: String, ex: Boolean, oc: Boolean, n: Int) =
      Seq.fill(n)((k, ex, oc))
    // balanced 3/3/3/3: support = min(r1,c1)+1 = 7 > cap 4
    val big = rows("k", true, true, 3) ++ rows("k", true, false, 3) ++
      rows("k", false, true, 3) ++ rows("k", false, false, 3)
    val e = intercept[org.apache.spark.SparkException] {
      Stats.fisherExact(big.toDF("key", "ex", "oc"), Seq("key"),
        "ex", "oc", maxExactMargin = 4L).collect()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("maxExactMargin") &&
      msg.contains("twoProportionZ"))
    // same table passes untouched under the default cap
    val ok = Stats.fisherExact(big.toDF("key", "ex", "oc"),
      Seq("key"), "ex", "oc").collect()
    assert(ok.length == 1 && ok.head.getAs[Long]("n") == 12L)
  }

  test("wasserstein1: hand transport cost; identical arms 0; " +
    "empty arm null") {
    val hand = Seq(("k", "a", 1.0), ("k", "a", 2.0), ("k", "b", 3.0))
    val same = Seq(("s", "a", 1.0), ("s", "a", 2.0),
      ("s", "b", 1.0), ("s", "b", 2.0))
    val solo = Seq(("e", "a", 5.0))
    val out = Stats.wasserstein1((hand ++ same ++ solo)
      .toDF("key", "arm", "v"), Seq("key"), "arm", "a", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    // move mass 1/2 from 1 -> 3 (cost 1) and 1/2 from 2 -> 3 (0.5)
    assert(out("k").getAs[Double]("w1") == 1.5)
    assert(out("s").getAs[Double]("w1") == 0.0)
    assert(out("e").isNullAt(out("e").fieldIndex("w1")))
  }

  test("kendallsW: unanimous rankings hit W = 1 exactly, opposite " +
    "rankings 0, all-tied raters null; incomplete rater vanishes") {
    def rater(k: String, r: Long, vs: (String, Double)*) =
      vs.map { case (it, v) => (k, r, it, v) }
    val df = (
      rater("u", 1L, "a" -> 1.0, "b" -> 2.0, "c" -> 3.0) ++
      rater("u", 2L, "a" -> 1.0, "b" -> 2.0, "c" -> 3.0) ++
      rater("u", 3L, "a" -> 1.5, "b" -> 2.5, "c" -> 9.0) ++
      rater("o", 1L, "a" -> 1.0, "b" -> 2.0) ++
      rater("o", 2L, "a" -> 2.0, "b" -> 1.0) ++
      rater("t", 1L, "a" -> 1.0, "b" -> 1.0) ++
      rater("t", 2L, "a" -> 2.0, "b" -> 2.0) ++
      // key "v": rater 2 is incomplete -> only rater 1 scores, and
      // a single rater ranking 2 items has den > 0 (W defined, = 1)
      rater("v", 1L, "a" -> 1.0, "b" -> 2.0) ++
      Seq(("v", 2L, "a", 3.0))
    ).toDF("key", "rater", "item", "v")
    val out = Stats.kendallsW(df, Seq("key"), "rater", "item", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("u").getAs[Long]("n_raters") == 3L)
    assert(out("u").getAs[Double]("w") == 1.0)
    assert(out("o").getAs[Double]("w") == 0.0)
    assert(out("t").isNullAt(out("t").fieldIndex("w"))) // den = 0
    assert(out("v").getAs[Long]("n_raters") == 1L) // incomplete dropped
    assert(out("v").getAs[Double]("w") == 1.0)
  }

  test("holmBonferroni: step-down running max, capped at 1, " +
    "step-down monotonicity enforced on a swapped pair") {
    val df = Seq(("k", "t1", 0.01), ("k", "t2", 0.04), ("k", "t3", 0.03),
      ("k", "t4", 0.9)).toDF("key", "id", "p")
    val out = Stats.holmBonferroni(df, Seq("key"), "id", "p")
      .collect().map(r => r.getString(1) -> r).toMap
    // sorted p: .01, .03, .04, .9; raw: 4*.01, 3*.03, 2*.04, 1*.9
    assert(out("t1").getAs[Double]("p_adj") == 0.04)
    assert(out("t3").getAs[Double]("p_adj") == 0.09)
    // .08 < .09 -> running max keeps .09 (monotone step-down)
    assert(out("t2").getAs[Double]("p_adj") == 0.09)
    assert(out("t4").getAs[Double]("p_adj") == 0.9)
    assert(out("t1").getAs[Boolean]("significant"))
    assert(!out("t2").getAs[Boolean]("significant"))
  }

  test("cohensH: all-vs-none hits 2*asin(1) snapped; equal rates 0; " +
    "empty arm null") {
    val df = Seq(("k", "a", true), ("k", "a", true), ("k", "b", false),
      ("q", "a", true), ("q", "a", false),
      ("q", "b", true), ("q", "b", false),
      ("e", "a", true)).toDF("key", "arm", "hit")
    val out = Stats.cohensH(df, Seq("key"), "arm", "a", "b", "hit")
      .collect().map(r => r.getString(0) -> r).toMap
    val asin1 = BigDecimal(math.asin(1.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("k").getAs[Double]("h") == 2.0 * asin1 - 0.0)
    assert(out("q").getAs[Double]("h") == 0.0)
    assert(out("e").isNullAt(out("e").fieldIndex("h")))
  }

  test("riskRatio: hand 2x2 RR/RD/NNT; zero-unexposed-outcome " +
    "nulls RR but keeps RD") {
    def rows(k: String, e: Boolean, y: Boolean, n: Int) =
      Seq.fill(n)((k, e, y))
    val hand = rows("k", true, true, 10) ++ rows("k", true, false, 10) ++
      rows("k", false, true, 5) ++ rows("k", false, false, 15)
    val z = rows("z", true, true, 5) ++ rows("z", true, false, 5) ++
      rows("z", false, false, 10)
    val out = Stats.riskRatio((hand ++ z).toDF("key", "ex", "oc"),
      Seq("key"), "ex", "oc")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Double]("risk_ratio") == 2.0)
    assert(k.getAs[Double]("risk_diff") == 0.25)
    assert(k.getAs[Double]("nnt") == 4.0)
    val lg = BigDecimal(math.log(2.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(k.getAs[Double]("log_rr") == lg)
    val se = math.sqrt(1.0 / 10 - 1.0 / 20 + 1.0 / 5 - 1.0 / 20)
    assert(k.getAs[Double]("log_rr_hi") == lg + 1.96 * se)
    val zz = out("z")
    assert(zz.isNullAt(zz.fieldIndex("risk_ratio"))) // c = 0
    assert(zz.getAs[Double]("risk_diff") == 0.5)
  }

  test("atkinson: hand closed form, perfect equality 0, zeros " +
    "count, all-zero mass null") {
    val df = Seq(("k", 1.0), ("k", 4.0), ("e", 2.0), ("e", 2.0),
      ("z", 0.0), ("z", 4.0), ("n", 0.0), ("n", 0.0))
      .toDF("key", "v")
    val out = Stats.atkinson(df, Seq("key"), "v")
      .collect().map(r => r.getString(0) -> r).toMap
    // cents 100/400: (10+20)^2 / (2*500) = 0.9 -> A = 0.1
    assert(out("k").getAs[Double]("atkinson") == 1.0 - 900.0 / 1000.0)
    // 1 - (2*sqrt(200))^2/800: sqrt(200)^2 lands one ulp off 200,
    // so equality reads as ~-2e-16, not exactly 0 (both engines
    // replay the identical IEEE chain)
    assert(math.abs(out("e").getAs[Double]("atkinson")) < 1e-12)
    // {0, 4}: (0+20)^2/(2*400) = 0.5
    assert(out("z").getAs[Double]("atkinson") == 0.5)
    assert(out("n").isNullAt(out("n").fieldIndex("atkinson")))
  }

  test("cramerVonMises: identical arms hit T = 0 exactly; hand " +
    "tied pooled case; empty arm null") {
    val same = Seq(("s", "a", 1.0), ("s", "a", 2.0),
      ("s", "b", 1.0), ("s", "b", 2.0))
    val tied = Seq(("t", "a", 1.0), ("t", "a", 1.0), ("t", "b", 1.0))
    val solo = Seq(("e", "a", 5.0))
    val out = Stats.cramerVonMises((same ++ tied ++ solo)
      .toDF("key", "arm", "v"), Seq("key"), "arm", "a", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("s").getAs[Double]("t") == 0.0)
    // all three tied: midranks 2; U = 2*1 + 1*1 = 3;
    // T = 3/(2*1*3) - (8-1)/(6*3) = 1/2 - 7/18
    assert(out("t").getAs[Double]("t") ==
      36.0 / (12.0 * 2.0 * 1.0 * 3.0) - 7.0 / 18.0)
    assert(out("e").isNullAt(out("e").fieldIndex("t")))
  }

  test("kuiper: V sums both gap directions where KS keeps the max") {
    // A = {1,3}, B = {2}: CDFs cross -> D+ = D- = 1/2, V = 1
    val df = Seq(("k", "a", 1.0), ("k", "a", 3.0), ("k", "b", 2.0))
      .toDF("key", "arm", "v")
    val out = Stats.kuiper(df, Seq("key"), "arm", "a", "b", "v")
      .collect().head
    assert(out.getAs[Long]("v_plus_num") == 1L)
    assert(out.getAs[Long]("v_minus_num") == 1L)
    assert(out.getAs[Double]("v") == 1.0)
    val ks = Stats.ksTest(df, Seq("key"), "arm", "a", "b", "v")
      .collect().head
    assert(ks.getAs[Double]("d") == 0.5) // KS sees only one side
  }

  test("energyDistance: point masses at distance 1 score 2; " +
    "identical arms 0") {
    val pm = Seq(("k", "a", 0.0), ("k", "b", 1.0))
    val same = Seq(("s", "a", 0.0), ("s", "a", 1.0),
      ("s", "b", 0.0), ("s", "b", 1.0))
    val out = Stats.energyDistance((pm ++ same).toDF("key", "arm", "v"),
      Seq("key"), "arm", "a", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("k").getAs[Double]("energy") == 2.0)
    assert(out("s").getAs[Double]("energy") == 0.0)
  }

  test("lorenzCurve: exact halves cut, cumulative shares, ties " +
    "split deterministically by mass invariance") {
    val df = Seq(("k", 1.0), ("k", 2.0), ("k", 3.0), ("k", 4.0))
      .toDF("key", "v")
    val out = Stats.lorenzCurve(df, Seq("key"), "v", buckets = 2)
      .collect().map(r => r.getLong(1) -> r).toMap
    assert(out(1L).getAs[Long]("cum_n") == 2L)
    assert(out(1L).getAs[Double]("cum_mass") == 3.0)
    assert(out(1L).getAs[Double]("cum_share") == 0.3)
    assert(out(2L).getAs[Double]("cum_share") == 1.0)
  }

  test("gehanWilcoxon: hand at-risk-weighted O-E walk; identical " +
    "groups score W = 0, chi2 = 0") {
    val same = for {
      g <- Seq(true, false); (d, e) <- Seq((1.0, true), (2.0, true))
    } yield ("s", g, d, e)
    val hand = Seq(("k", true, 1.0, true), ("k", true, 2.0, false),
      ("k", false, 2.0, true), ("k", false, 3.0, true))
    val out = Stats.gehanWilcoxon((same ++ hand).toDF("key", "g", "d", "e"),
      Seq("key"), "g", "d", "e")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("s").getAs[Double]("w_stat") == 0.0)
    assert(out("s").getAs[Double]("chi2") == 0.0)
    val k = out("k")
    // t=100: 4*(1 - 0.5); t=200: 3*(0 - 1/3); t=300: 1*(0 - 0)
    assert(k.getAs[Double]("w_stat") ==
      4.0 * (1.0 - 2.0 / 4.0 * 1.0) + 3.0 * (0.0 - 1.0 / 3.0 * 1.0))
    val v = 16.0 * (1.0 * (2.0 / 4.0) * (1.0 - 2.0 / 4.0) * 3.0 / 3.0) +
      9.0 * (1.0 * (1.0 / 3.0) * (1.0 - 1.0 / 3.0) * 2.0 / 2.0)
    val ws = k.getAs[Double]("w_stat")
    assert(k.getAs[Double]("chi2") == ws * ws / v)
  }

  test("distributionDistance: hand tv/overlap/bc panel; identical " +
    "arms hit 0/1/1/0 exactly") {
    val hand = Seq(("k", "a", 1.0), ("k", "a", 2.0),
      ("k", "b", 1.0), ("k", "b", 3.0))
    val same = Seq(("s", "a", 1.0), ("s", "a", 2.0),
      ("s", "b", 1.0), ("s", "b", 2.0))
    val out = Stats.distributionDistance((hand ++ same)
      .toDF("key", "arm", "v"), Seq("key"), "arm", "a", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Double]("tv") == 0.5)
    assert(k.getAs[Double]("overlap") == 0.5)
    assert(k.getAs[Double]("bc") == 0.5)
    assert(k.getAs[Double]("hellinger") == math.sqrt(1.0 - 0.5))
    val s = out("s")
    assert(s.getAs[Double]("tv") == 0.0)
    assert(s.getAs[Double]("overlap") == 1.0)
    assert(s.getAs[Double]("bc") == 1.0)
    assert(s.getAs[Double]("hellinger") == 0.0)
  }

  test("hodgesLehmann: midpoint of straddling diffs, tie weights, " +
    "single-pair shift, empty arm null") {
    val df = Seq(
      ("m", "a", 1.0), ("m", "a", 3.0), ("m", "b", 2.0),
      ("one", "a", 5.0), ("one", "b", 1.0),
      ("t", "a", 1.0), ("t", "a", 1.0), ("t", "b", 0.0),
      ("e", "a", 7.0)
    ).toDF("key", "arm", "v")
    val out = Stats.hodgesLehmann(df, Seq("key"), "arm", "a", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    // diffs {-1, +1}: lower = -1, upper = +1 -> HL = 0
    assert(out("m").getAs[Double]("hl_shift") == 0.0)
    assert(out("m").getAs[Long]("n_pairs") == 2L)
    assert(out("one").getAs[Double]("hl_shift") == 4.0)
    assert(out("t").getAs[Double]("hl_shift") == 1.0)
    assert(out("e").getAs[Long]("n_pairs") == 0L)
    assert(out("e").isNullAt(out("e").fieldIndex("hl_shift")))
  }

  test("hodgesLehmann: maxPairProduct cap fails clearly on an " +
    "oversized per-key pair grid; a compliant key still computes") {
    val df = Seq(
      ("k", "a", 1.0), ("k", "a", 3.0), ("k", "b", 2.0),
      ("k", "b", 4.0)).toDF("key", "arm", "v")
    // |grid_a|*|grid_b| = 4 > cap 3 -> clear error naming the fix
    val e = intercept[Exception] {
      Stats.hodgesLehmann(df, Seq("key"), "arm", "a", "b", "v",
        maxPairProduct = 3L).collect()
    }
    def root(t: Throwable): Throwable =
      if (t.getCause == null) t else root(t.getCause)
    val msg = Seq(e.getMessage, root(e).getMessage).mkString(" ")
    assert(msg.contains("maxPairProduct") &&
      msg.contains("valueScale"), msg)
    // at the cap boundary (product == cap) it computes
    val ok = Stats.hodgesLehmann(df, Seq("key"), "arm", "a", "b", "v",
      maxPairProduct = 4L).collect().head
    assert(ok.getAs[Long]("n_pairs") == 4L)
  }

  test("quade: hand range-weighted rank walk; single complete " +
    "block degenerates to null F") {
    val df = Seq(
      ("k", 1L, "t1", 1.0), ("k", 1L, "t2", 2.0),
      ("k", 2L, "t1", 1.0), ("k", 2L, "t2", 3.0),
      ("k", 3L, "t1", 5.0), ("k", 3L, "t2", 4.0),
      ("s", 1L, "t1", 1.0), ("s", 1L, "t2", 2.0)
    ).toDF("key", "blk", "trt", "v")
    val out = Stats.quade(df, Seq("key"), "blk", "trt", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Long]("n_blocks") == 3L)
    // Q2 = (3, 6, 3); S4 rows: (-3,3), (-6,6), (3,-3);
    // W4 = (-6, 6); A16 = 108, B16 = 72/3 = 24 -> F = 2*24/84 = 4/7
    val b16 = 72.0 / 3.0
    assert(k.getAs[Double]("f") == (3.0 - 1.0) * b16 / (108.0 - b16))
    assert(out("s").isNullAt(out("s").fieldIndex("f"))) // A16 = B16
  }

  test("conoverSquaredRanks: hand cross-scaled deviation ranks; " +
    "all-tied deviations null the variance") {
    val hand = Seq(("k", "a", 1.0), ("k", "a", 3.0),
      ("k", "b", 2.0), ("k", "b", 2.0))
    val same = Seq(("s", "a", 1.0), ("s", "a", 3.0),
      ("s", "b", 1.0), ("s", "b", 3.0))
    val out = Stats.conoverSquaredRanks((hand ++ same)
      .toDF("key", "arm", "v"), Seq("key"), "arm", "a", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // devs: A (400, 400) doubled-rank 7 each, B (0, 0) rank 3 each
    assert(k.getAs[Double]("t4") == 98.0)
    val bigN = 4.0
    val v16 = 2.0 * 2.0 * (bigN * 4964.0 - 116.0 * 116.0) /
      (bigN * bigN * (bigN - 1.0))
    assert(k.getAs[Double]("z") == (98.0 - 2.0 * 116.0 / bigN) /
      math.sqrt(v16))
    assert(out("s").isNullAt(out("s").fieldIndex("z"))) // all tied
  }

  test("conoverSquaredRanks: huge-magnitude values whose TRUE cross-" +
    "scaled deviation passes 2^63 still rank exactly (decimal " +
    "deviations)") {
    // deviations scale linearly in the values, so scaling every
    // value by 10¹² must reproduce the small feed's t4/z EXACTLY.
    // At the big scale the true deviation |n_a·n_b·x − n_b·Σ_a|
    // reaches ~1.2e19 > 2^63 (n_a·n_b = 20, values to 9.9e17
    // cents) — long math would wrap it negative, abs() would flip
    // the pooled ranking, and the z would silently change.
    val small = Seq(("k", "a", 0.0), ("k", "a", 0.0), ("k", "a", 0.0),
      ("k", "a", 9900.0), ("k", "a", 9900.0),
      ("k", "b", 0.0), ("k", "b", 110.0), ("k", "b", 4400.0),
      ("k", "b", 9900.0))
    val big = small.map { case (k, g, v) => (k, g, v * 1.0e12) }
    def run(rows: Seq[(String, String, Double)]) =
      Stats.conoverSquaredRanks(rows.toDF("key", "arm", "v"),
        Seq("key"), "arm", "a", "b", "v").collect().head
    val s = run(small); val b = run(big)
    assert(b.getAs[Long]("n_a") == 5L && b.getAs[Long]("n_b") == 4L)
    assert(b.getAs[Double]("t4") == s.getAs[Double]("t4"))
    assert(b.getAs[Double]("z") == s.getAs[Double]("z"))
    assert(!s.isNullAt(s.fieldIndex("z")))
  }

  test("andersonDarling: matches an independent scipy-midrank " +
    "reference on tied + unbalanced arms; degenerate grid nulls") {
    // reference: Scholz-Stephens A2akN (k=2, midrank) computed
    // directly from the definition over sorted pooled values —
    // structurally unrelated to the engine's doubled-integer grid
    def refA2(a: Seq[Double], b: Seq[Double]): Double = {
      val z = a ++ b
      val zstar = z.distinct.sorted
      val bigN = z.size.toDouble
      var total = 0.0
      for ((s, n) <- Seq((a, a.size.toDouble), (b, b.size.toDouble))) {
        var inner = 0.0
        var prevPool = 0.0
        var prevS = 0.0
        for (v <- zstar) {
          val l = z.count(_ == v).toDouble
          val f = s.count(_ == v).toDouble
          val bj = prevPool + l / 2.0
          val mj = prevS + f / 2.0
          inner += l / bigN * math.pow(bigN * mj - bj * n, 2) /
            (bj * (bigN - bj) - bigN * l / 4.0)
          prevPool += l; prevS += f
        }
        total += inner / n
      }
      total * (bigN - 1.0) / bigN
    }
    val a = Seq(1.0, 2.0, 2.0, 3.5, 7.0)   // tie inside a
    val b = Seq(2.0, 4.0, 5.0, 6.0, 6.0, 9.0, 11.0) // unbalanced + ties
    val rows = a.map(("k", "a", _)) ++ b.map(("k", "b", _)) ++
      Seq(("s", "a", 5.0), ("s", "b", 5.0), // single-point grid
        ("e", "a", 1.0), ("e", "a", 2.0))   // empty b arm
    val out = Stats.andersonDarling(rows.toDF("key", "arm", "v"),
      Seq("key"), "arm", "a", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Long]("n_a") == 5L && k.getAs[Long]("n_b") == 7L)
    assert(math.abs(k.getAs[Double]("a2") - refA2(a, b)) < 1e-10,
      s"${k.getAs[Double]("a2")} vs ${refA2(a, b)}")
    // identical arms on a real grid: a2 small and defined
    val same = Stats.andersonDarling(
      (Seq.tabulate(6)(i => ("q", "a", i.toDouble)) ++
        Seq.tabulate(6)(i => ("q", "b", i.toDouble)))
        .toDF("key", "arm", "v"), Seq("key"), "arm", "a", "b", "v")
      .collect().head
    assert(math.abs(same.getAs[Double]("a2") -
      refA2(Seq.tabulate(6)(_.toDouble), Seq.tabulate(6)(_.toDouble)))
      < 1e-10)
    assert(out("s").isNullAt(out("s").fieldIndex("a2"))) // 0/0 grid
    assert(out("e").isNullAt(out("e").fieldIndex("a2"))) // empty arm
  }

  test("driftPanel: bit-identical to the five individual operators " +
    "run separately — one scan, same exact closings") {
    val a = Seq(1.0, 2.0, 2.0, 3.5, 7.0, 7.0, 8.25)
    val b = Seq(2.0, 4.0, 5.0, 6.0, 6.0, 9.0, 11.0, 1.5)
    val rows = a.map(("k1", "a", _)) ++ b.map(("k1", "b", _)) ++
      a.map(v => ("k2", "a", v * 2.0)) ++
      b.map(v => ("k2", "b", v - 0.5)) ++
      Seq(("s", "a", 5.0), ("s", "b", 5.0), // single-point grid
        ("e", "a", 1.0), ("e", "a", 2.0),   // empty b arm
        (null, "a", 1.0), (null, "b", 2.0), (null, "a", 3.0)) // null key
    val df = rows.toDF("key", "arm", "v")
    val panel = Stats.driftPanel(df, Seq("key"), "arm", "a", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    def single(out: Array[org.apache.spark.sql.Row], c: String) =
      out.map(r => r.getString(0) ->
        (if (r.isNullAt(r.fieldIndex(c))) None
         else Some(r.getDouble(r.fieldIndex(c))))).toMap
    val ks = single(Stats.ksTest(df, Seq("key"), "arm", "a", "b", "v")
      .collect(), "d")
    val cvm = single(Stats.cramerVonMises(df, Seq("key"), "arm",
      "a", "b", "v").collect(), "t")
    val ad = single(Stats.andersonDarling(df, Seq("key"), "arm",
      "a", "b", "v").collect(), "a2")
    val ku = single(Stats.kuiper(df, Seq("key"), "arm", "a", "b", "v")
      .collect(), "v")
    val w1 = single(Stats.wasserstein1(df, Seq("key"), "arm",
      "a", "b", "v").collect(), "w1")
    for (k <- Seq("k1", "k2", "s", "e")) {
      val p = panel(k)
      def pv(c: String) = if (p.isNullAt(p.fieldIndex(c))) None
        else Some(p.getDouble(p.fieldIndex(c)))
      assert(pv("ks_d") == ks(k), s"$k ks")         // == : bit parity
      assert(pv("cvm_t") == cvm(k), s"$k cvm")
      assert(pv("ad_a2") == ad(k), s"$k ad")
      assert(pv("kuiper_v") == ku(k), s"$k kuiper")
      assert(pv("w1") == w1(k), s"$k w1")
    }
    // degenerate contracts carried through: empty arm nulls all five
    assert(Seq("ks_d", "cvm_t", "ad_a2", "kuiper_v", "w1")
      .forall(c => panel("e").isNullAt(panel("e").fieldIndex(c))))
    // single-point grid nulls ONLY ad (its 0/0 case); others defined
    assert(panel("s").isNullAt(panel("s").fieldIndex("ad_a2")))
    assert(!panel("s").isNullAt(panel("s").fieldIndex("ks_d")))
    // null keys: ksTest groups them as one key; the panel and the
    // other four members drop them
    assert(ks.contains(null) && ks(null).isDefined)
    assert(!panel.contains(null))
    for ((op, m) <- Seq("cvm" -> cvm, "ad" -> ad, "kuiper" -> ku,
      "w1" -> w1)) assert(!m.contains(null), op)
  }

  test("rankPanel: bit-identical to mannWhitneyU + cliffsDelta + " +
    "brunnerMunzel run separately — one scan, same exact closings") {
    // unbalanced arms with cross-arm ties (the regime that separates
    // the BM df forms), plus the degenerate contracts
    val a = Seq(1.0, 2.0, 2.0, 3.5, 7.0, 7.0, 8.25)
    val b = Seq(2.0, 4.0, 5.0, 6.0, 6.0, 9.0, 11.0, 1.5, 3.0, 7.0)
    val rows = a.map(("k1", "a", _)) ++ b.map(("k1", "b", _)) ++
      a.map(v => ("k2", "a", v * 2.0)) ++
      b.map(v => ("k2", "b", v - 0.5)) ++
      Seq(("t", "a", 5.0), ("t", "a", 5.0), // all-tied: z/w/df null,
        ("t", "b", 5.0), ("t", "b", 5.0),   //   delta 0, p_hat 1/2
        ("s", "a", 1.0), ("s", "b", 9.0),   // arms of 1: w/df null
        ("e", "a", 1.0), ("e", "a", 2.0),   // empty b arm: all null
        (null, "a", 1.0), (null, "b", 2.0), (null, "a", 3.0)) // null key
    val df = rows.toDF("key", "arm", "v")
    val panel = Stats.rankPanel(df, Seq("key"), "arm", "a", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    def single(out: Array[org.apache.spark.sql.Row], c: String) =
      out.map(r => r.getString(0) ->
        (if (r.isNullAt(r.fieldIndex(c))) None
         else Some(r.getDouble(r.fieldIndex(c))))).toMap
    val mwu = Stats.mannWhitneyU(df, Seq("key"), "arm", "a", "b", "v")
      .collect()
    val cliff = single(Stats.cliffsDelta(df, Seq("key"), "arm",
      "a", "b", "v").collect(), "delta")
    val bm = Stats.brunnerMunzel(df, Seq("key"), "arm", "a", "b", "v")
      .collect()
    for (k <- Seq("k1", "k2", "t", "s", "e")) {
      val p = panel(k)
      def pv(c: String) = if (p.isNullAt(p.fieldIndex(c))) None
        else Some(p.getDouble(p.fieldIndex(c)))
      for (c <- Seq("u_a", "u_b", "z"))
        assert(pv(c) == single(mwu, c)(k), s"$k $c") // == : bit parity
      assert(pv("delta") == cliff(k), s"$k delta")
      for (c <- Seq("p_hat", "w", "df"))
        assert(pv(c) == single(bm, c)(k), s"$k $c")
    }
    // degenerate contracts: empty arm nulls the whole row
    assert(Seq("u_a", "u_b", "z", "delta", "p_hat", "w", "df")
      .forall(c => panel("e").isNullAt(panel("e").fieldIndex(c))))
    // all-tied: z and w/df null, but delta is exactly 0, p_hat 1/2
    assert(panel("t").isNullAt(panel("t").fieldIndex("z")))
    assert(panel("t").isNullAt(panel("t").fieldIndex("w")))
    assert(panel("t").getDouble(panel("t").fieldIndex("delta")) == 0.0)
    assert(panel("t").getDouble(panel("t").fieldIndex("p_hat")) == 0.5)
    // singleton arms keep U/delta/p_hat, null w/df
    assert(!panel("s").isNullAt(panel("s").fieldIndex("u_a")))
    assert(panel("s").isNullAt(panel("s").fieldIndex("w")))
    // null keys: mannWhitneyU and cliffsDelta group them as one key;
    // the panel and brunnerMunzel drop them
    assert(single(mwu, "u_a").get(null).exists(_.isDefined))
    assert(cliff.get(null).exists(_.isDefined))
    assert(!panel.contains(null))
    assert(!single(bm, "p_hat").contains(null))
  }

  test("two-sample grid operators: keys = Nil is one global group " +
    "for mannWhitneyU/ksTest/cliffsDelta; the other nine need keys " +
    "and drop null keys") {
    val df = Seq(("k", "a", 1.0), ("k", "a", 4.0), ("k", "b", 2.0),
      (null, "b", 3.0), (null, "a", 5.0)).toDF("key", "arm", "v")
    val global = Seq(
      Stats.mannWhitneyU(df, Nil, "arm", "a", "b", "v"),
      Stats.ksTest(df, Nil, "arm", "a", "b", "v"),
      Stats.cliffsDelta(df, Nil, "arm", "a", "b", "v"))
    for (out <- global) {
      val r = out.collect()
      assert(r.length == 1 && r(0).getAs[Long]("n_a") == 3L &&
        r(0).getAs[Long]("n_b") == 2L, out.columns.mkString(","))
    }
    // U_a on the pooled 1,2,3,4,5: a = {1,4,5}, ranks 1+4+5 − 6 = 4
    assert(global(0).collect()(0).getAs[Double]("u_a") == 4.0)
    // the two operators outside both panels drop null keys too
    for (out <- Seq(
      Stats.energyDistance(df, Seq("key"), "arm", "a", "b", "v"),
      Stats.distributionDistance(df, Seq("key"), "arm", "a", "b", "v")))
      assert(out.collect().map(_.getString(0)).toSeq == Seq("k"))
    type Op = (org.apache.spark.sql.DataFrame, Seq[String], String,
      String, String, String, Int) => org.apache.spark.sql.DataFrame
    val keyed: Seq[(String, Op)] = Seq(
      "wasserstein1" -> Stats.wasserstein1 _,
      "cramerVonMises" -> Stats.cramerVonMises _,
      "andersonDarling" -> Stats.andersonDarling _,
      "kuiper" -> Stats.kuiper _,
      "energyDistance" -> Stats.energyDistance _,
      "distributionDistance" -> Stats.distributionDistance _,
      "brunnerMunzel" -> Stats.brunnerMunzel _,
      "driftPanel" -> Stats.driftPanel _, "rankPanel" -> Stats.rankPanel _)
    for ((op, f) <- keyed) {
      val e = intercept[IllegalArgumentException](
        f(df, Nil, "arm", "a", "b", "v", 2))
      assert(e.getMessage.contains(s"$op needs key columns"), op)
    }
  }

  test("poissonRateTest: hand rate z and snapped log-ratio CI; " +
    "zero count nulls the log CI but keeps z") {
    val df = Seq(("k", "a", 10L, 5.0), ("k", "b", 2L, 4.0),
      ("z", "a", 0L, 2.0), ("z", "b", 3L, 6.0))
      .toDF("key", "arm", "ev", "exp")
    val out = Stats.poissonRateTest(df, Seq("key"), "arm", "a", "b",
      "ev", "exp").collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Double]("rate_1") == 2.0)
    assert(k.getAs[Double]("rate_2") == 0.5)
    assert(k.getAs[Double]("z") ==
      (2.0 - 0.5) / math.sqrt(10.0 / (5.0 * 5.0) + 2.0 / (4.0 * 4.0)))
    val lr = BigDecimal(math.log(4.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(k.getAs[Double]("log_ratio") == lr)
    assert(k.getAs[Double]("log_hi") ==
      lr + 1.96 * math.sqrt(1.0 / 10.0 + 1.0 / 2.0))
    val z = out("z")
    assert(z.isNullAt(z.fieldIndex("log_ratio"))) // k_1 = 0
    assert(!z.isNullAt(z.fieldIndex("z")))
  }

  test("captureRecapture: hand Chapman estimate and se; disjoint " +
    "captures stay finite") {
    val df = Seq(("k", "a", 1L), ("k", "a", 2L), ("k", "a", 3L),
      ("k", "b", 2L), ("k", "b", 3L), ("k", "b", 4L), ("k", "b", 5L),
      ("d", "a", 1L), ("d", "b", 2L)).toDF("key", "src", "id")
    val out = Stats.captureRecapture(df, Seq("key"), "src", "a", "b",
      "id").collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Long]("n_a") == 3L && k.getAs[Long]("n_b") == 4L)
    assert(k.getAs[Long]("m_overlap") == 2L)
    assert(k.getAs[Double]("chapman_n") == 4.0 * 5.0 / 3.0 - 1.0)
    assert(k.getAs[Double]("se") ==
      math.sqrt(4.0 * 5.0 * (3.0 - 2.0) * (4.0 - 2.0) / (3.0 * 3.0 * 4.0)))
    // m = 0: Chapman still finite (the bias-corrected point)
    assert(out("d").getAs[Double]("chapman_n") == 2.0 * 2.0 / 1.0 - 1.0)
  }

  test("chao1: singleton/doubleton closed form and Good-Turing " +
    "unseen mass") {
    val df = Seq(("k", "a"), ("k", "b"), ("k", "c"), ("k", "c"),
      ("k", "d"), ("k", "d"), ("k", "d")).toDF("key", "item")
    val out = Stats.chao1(df, Seq("key"), "item").collect().head
    assert(out.getAs[Long]("s_observed") == 4L)
    assert(out.getAs[Long]("f1") == 2L && out.getAs[Long]("f2") == 1L)
    assert(out.getAs[Double]("chao1") ==
      4.0 + 2.0 * 1.0 / (2.0 * 2.0))
    assert(out.getAs[Double]("unseen_mass") == 2.0 / 7.0)
  }

  test("brunnerMunzel: hand interleaved placements; complete " +
    "separation nulls W but keeps p_hat = 1") {
    val inter = Seq(("k", "a", 1.0), ("k", "a", 3.0),
      ("k", "b", 2.0), ("k", "b", 4.0))
    val sep = Seq(("s", "a", 1.0), ("s", "a", 2.0),
      ("s", "b", 3.0), ("s", "b", 4.0))
    val out = Stats.brunnerMunzel((inter ++ sep)
      .toDF("key", "arm", "v"), Seq("key"), "arm", "a", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // rbar_a = 2, rbar_b = 3, S_a = S_b = 0.5
    val sA = (4.0 - 2.0 * 2.0 / 2.0) / (4.0 * 1.0)
    val sB = (20.0 - 6.0 * 6.0 / 2.0) / (4.0 * 1.0)
    val vs = 2.0 * sA + 2.0 * sB
    assert(k.getAs[Double]("w") ==
      2.0 * 2.0 * (3.0 - 2.0) / (4.0 * math.sqrt(vs)))
    assert(k.getAs[Double]("df") ==
      vs * vs /
        ((2.0 * sA) * (2.0 * sA) / 1.0 + (2.0 * sB) * (2.0 * sB) / 1.0))
    assert(k.getAs[Double]("p_hat") == 0.75)
    val s = out("s")
    assert(s.isNullAt(s.fieldIndex("w"))) // zero placement variance
    assert(s.getAs[Double]("p_hat") == 1.0)
  }

  test("brunnerMunzel: UNBALANCED arms match the scipy/lawstat " +
    "Satterthwaite df computed from per-row placements") {
    // a = [1,2,3] (n=3), b = [2,4,5,6] (m=4); pooled midranks
    // 1, 2.5, 2.5, 4, 5, 6, 7. Hand chain per scipy.stats
    // .brunnermunzel: Sx = 0.25, Sy = 0.5625, so
    // W = 12*2.625/(7*sqrt(3)) = 1.5*sqrt(3), df = 9/1.96875 = 32/7,
    // p_hat = (5.125 - 2.5)/3 = 0.875. The old Welch-style
    // (S/n)-form gives df = 0.0703125/0.01916.. ~ 3.67 here — the
    // forms only coincide for balanced arms.
    val rows = Seq(("k", "a", 1.0), ("k", "a", 2.0), ("k", "a", 3.0),
      ("k", "b", 2.0), ("k", "b", 4.0), ("k", "b", 5.0),
      ("k", "b", 6.0))
    val out = Stats.brunnerMunzel(rows.toDF("key", "arm", "v"),
      Seq("key"), "arm", "a", "b", "v").collect().head
    assert(out.getAs[Long]("n_a") == 3L && out.getAs[Long]("n_b") == 4L)
    assert(out.getAs[Double]("p_hat") == 0.875)
    assert(math.abs(out.getAs[Double]("w") - 1.5 * math.sqrt(3.0))
      < 1e-12)
    assert(math.abs(out.getAs[Double]("df") - 32.0 / 7.0) < 1e-12)
  }

  test("sampleSizeTwoProportions: classic formula chain from the " +
    "observed baseline; target outside (0,1) nulls") {
    val base = Seq.fill(3)(("k", false)) :+ (("k", true))
    val hi = Seq.fill(99)(("h", true)) :+ (("h", false))
    val out = Stats.sampleSizeTwoProportions((base ++ hi)
      .toDF("key", "hit"), Seq("key"), "hit", mde = 0.05)
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Double]("p_base") == 0.25)
    assert(k.getAs[Double]("p_target") == 0.25 + 0.05)
    val p1 = 0.25; val p2 = p1 + 0.05; val pb = (p1 + p2) / 2.0
    val num = 1.959963985 * math.sqrt(2.0 * pb * (1.0 - pb)) +
      0.841621234 * math.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))
    assert(k.getAs[Double]("n_per_arm") == num * num / (0.05 * 0.05))
    val h = out("h")
    assert(h.getAs[Double]("p_base") == 0.99)
    assert(h.isNullAt(h.fieldIndex("n_per_arm"))) // p2 = 1.04
  }

  test("qiniCurve: perfect-uplift model front-loads qini; balanced " +
    "arms score 0; empty-arm prefix nulls") {
    val perfect = Seq(
      ("p", 4.0, 1L, true, true), ("p", 3.0, 2L, true, true),
      ("p", 2.0, 3L, false, false), ("p", 1.0, 4L, false, false))
    val flat = Seq(
      ("f", 4.0, 1L, true, true), ("f", 3.0, 2L, false, true),
      ("f", 2.0, 3L, true, false), ("f", 1.0, 4L, false, false))
    val out = Stats.qiniCurve((perfect ++ flat)
      .toDF("key", "score", "id", "tr", "y"),
      Seq("key"), "score", "id", "tr", "y", buckets = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    val p1 = out(("p", 1L))
    assert(p1.isNullAt(p1.fieldIndex("qini"))) // control arm empty
    val p2 = out(("p", 2L))
    assert(p2.getAs[Double]("qini") == 2.0)
    assert(p2.getAs[Double]("uplift") == 1.0)
    val f1 = out(("f", 1L))
    assert(f1.getAs[Double]("qini") == 0.0) // 1 - 1*1/1
    val f2 = out(("f", 2L))
    assert(f2.getAs[Double]("qini") == 0.0)
    assert(f2.getAs[Double]("uplift") == 0.0)
  }

  test("gTest: perfect association hits 4n*ln2 on the snapped grid; " +
    "exact independence scores 0; degenerate table null") {
    def rows(k: String, a: String, b: String, n: Int) =
      Seq.fill(n)((k, a, b))
    val dep = rows("k", "A", "X", 10) ++ rows("k", "B", "Y", 10)
    val ind = rows("i", "A", "X", 5) ++ rows("i", "A", "Y", 5) ++
      rows("i", "B", "X", 5) ++ rows("i", "B", "Y", 5)
    val deg = rows("d", "A", "X", 3)
    val out = Stats.gTest((dep ++ ind ++ deg).toDF("key", "a", "b"),
      Seq("key"), "a", "b")
      .collect().map(r => r.getString(0) -> r).toMap
    val ln2 = BigDecimal(math.log(10.0 / 5.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // two observed cells, each 2*10*ln(10/5); zeros contribute 0
    assert(out("k").getAs[Double]("g2") ==
      2.0 * 10.0 * ln2 + 2.0 * 10.0 * ln2)
    assert(out("i").getAs[Double]("g2") == 0.0) // o = e everywhere
    assert(out("d").isNullAt(out("d").fieldIndex("g2")))
  }

  test("cliffsDelta: total dominance scores exactly 1, balanced " +
    "overlap 0, a pure tie 0; empty arm null") {
    val df = Seq(
      ("w", "a", 3.0), ("w", "a", 4.0), ("w", "b", 1.0), ("w", "b", 2.0),
      ("o", "a", 1.0), ("o", "a", 3.0), ("o", "b", 2.0), ("o", "b", 2.0),
      ("t", "a", 2.0), ("t", "b", 2.0),
      ("e", "a", 5.0)
    ).toDF("key", "arm", "v")
    val out = Stats.cliffsDelta(df, Seq("key"), "arm", "a", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("w").getAs[Double]("delta") == 1.0)
    assert(out("o").getAs[Double]("delta") == 0.0)
    assert(out("t").getAs[Double]("u_a") == 0.5) // tie splits
    assert(out("t").getAs[Double]("delta") == 0.0)
    assert(out("e").isNullAt(out("e").fieldIndex("delta")))
  }

  test("complete-block operators share one grid: null rows drop, " +
    "duplicate rows sum to one cell, incomplete blocks and keys " +
    "without a complete block vanish") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    def r(k: String, b: Long, t: String, v: Double)
    : (Option[String], Option[Long], Option[String], Option[Double]) =
      (Some(k), Some(b), Some(t), Some(v))
    val rows = Seq(
      // key k, treatments a b c: block 1's two a rows are one cell
      r("k", 1L, "a", 2.0), r("k", 1L, "a", 2.0), r("k", 1L, "b", 1.0),
      r("k", 1L, "c", 3.0),
      r("k", 2L, "a", 1.0), r("k", 2L, "b", 2.0), r("k", 2L, "c", 3.0),
      // block 3 is incomplete once its null-value c row drops
      r("k", 3L, "a", 1.0), r("k", 3L, "b", 2.0),
      (Some("k"), Some(3L), Some("c"), None),
      // a null block and a null treatment add no block and no k
      (Some("k"), None, Some("a"), Some(5.0)),
      (Some("k"), Some(2L), None, Some(5.0)),
      // key j, treatments x y: three complete blocks
      r("j", 1L, "x", 1.0), r("j", 1L, "y", 2.0), r("j", 2L, "x", 2.0),
      r("j", 2L, "y", 1.0), r("j", 3L, "x", 1.0), r("j", 3L, "y", 1.0),
      // a complete block under a null key
      (None, Some(1L), Some("a"), Some(1.0)),
      (None, Some(1L), Some("b"), Some(2.0)),
      (None, Some(1L), Some("c"), Some(3.0)),
      // key n has two treatments but no block saw both
      r("n", 1L, "a", 1.0), r("n", 2L, "b", 2.0))
    val df = rows.toDF("key", "blk", "trt", "v")
    val ops: Seq[(String, DataFrame => DataFrame, String, String)] = Seq(
      ("friedman", Stats.friedman(_, Seq("key"), "blk", "trt", "v"),
        "n_blocks", "k_treatments"),
      ("pageTrend", Stats.pageTrend(_, Seq("key"), "blk", "trt", "v"),
        "n_blocks", "k_treatments"),
      ("quade", Stats.quade(_, Seq("key"), "blk", "trt", "v"),
        "n_blocks", "k_treatments"),
      ("kendallsW", Stats.kendallsW(_, Seq("key"), "blk", "trt", "v"),
        "n_raters", "k_items"),
      ("cronbachAlpha",
        Stats.cronbachAlpha(_, Seq("key"), "blk", "trt", "v"),
        "n_subjects", "k_items"),
      ("cochranQ", d => Stats.cochranQ(
        d.withColumn("y", col("v") >= 2.0), Seq("key"), "blk", "trt",
        "y"), "n_subjects", "k_treatments"))
    val want = Map("k" -> (2L, 3L), "j" -> (3L, 2L))
    for ((op, f, nCol, kCol) <- ops) {
      val got = f(df).collect().map(row => row.getAs[String]("key") ->
        (row.getAs[Long](nCol), row.getAs[Long](kCol))).toMap
      assert(got == want, op)
    }
  }

  test("cramersV and gTest share one r×c grid: same n, r, c per key, " +
    "null keys dropped, and one global table for keys = Nil") {
    val df = Seq[(Option[String], Option[String], Option[String])](
      (Some("k"), Some("A"), Some("X")), (Some("k"), Some("A"), Some("Y")),
      (Some("k"), Some("B"), Some("X")), (Some("k"), Some("B"), Some("X")),
      (Some("m"), Some("A"), Some("X")),
      (None, Some("C"), Some("Z")), (None, Some("A"), Some("X")),
      (Some("k"), None, Some("X")), (Some("k"), Some("A"), None))
      .toDF("key", "a", "b")
    def nrc(out: org.apache.spark.sql.DataFrame, keys: Seq[String]) =
      out.selectExpr(keys ++ Seq("n", "r", "c"): _*).collect()
        .map(_.toSeq).toSet
    for ((keys, want) <- Seq(
      Seq("key") -> Set[Seq[Any]](Seq("k", 4L, 2L, 2L), Seq("m", 1L, 1L, 1L)),
      Nil -> Set[Seq[Any]](Seq(7L, 3L, 3L)))) {
      assert(nrc(Stats.cramersV(df, keys, "a", "b"), keys) == want, keys)
      assert(nrc(Stats.gTest(df, keys, "a", "b"), keys) == want, keys)
    }
  }
}
