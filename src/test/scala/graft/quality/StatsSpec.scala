package graft.quality

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** psiDrift + mannWhitneyU semantics on hand-checkable samples. */
class StatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("psiDrift: identical segment distributions score exactly 0") {
    val df = (1 to 10).flatMap(v => Seq(("a", v.toDouble), ("b", v.toDouble)))
      .toDF("seg", "v")
    val out = Quality.psiDrift(df, "v", "seg", (1 to 9).map(_ / 10.0))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    // each segment's histogram equals the pooled one → every term is
    // (q − p)·ln(q/p) with q = p → exactly 0.0
    assert(out == Set(("a", 10L, 10L, 0L, 0.0), ("b", 10L, 10L, 0L, 0.0)))
  }

  test("psiDrift: disjoint segments drift hard and count empty bins") {
    val df = ((1 to 50).map(v => ("lo", v.toDouble)) ++
      (51 to 100).map(v => ("hi", v.toDouble))).toDF("seg", "v")
    val rows = Quality.psiDrift(df, "v", "seg", (1 to 9).map(_ / 10.0))
      .collect().map(r => r.getString(0) ->
        (r.getLong(3), r.getDouble(4))).toMap
    // each segment misses the other half's deciles entirely
    assert(rows("lo")._1 == 5L && rows("hi")._1 == 5L)
    assert(rows("lo")._2 > 0.25 && rows("hi")._2 > 0.25) // "major drift"
  }

  test("psiDrift: null values and null segments are excluded") {
    val df = Seq(("a", Some(1.0)), ("a", None), (null, Some(2.0)))
      .toDF("seg", "v")
    val out = Quality.psiDrift(df, "v", "seg", Seq(0.5)).collect()
    assert(out.length == 1 && out(0).getString(0) == "a" &&
      out(0).getLong(1) == 1L)
  }

  test("mannWhitneyU: textbook disjoint samples") {
    val df = (Seq(1.0, 2.0, 3.0).map(("A", _)) ++
      Seq(4.0, 5.0, 6.0).map(("B", _))).toDF("g", "v")
    val r = Quality.mannWhitneyU(df, "v", "g", "A", "B").collect()(0)
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    // A holds ranks 1..3 → R_a = 6 → U_a = 6 − 6 = 0, U_b = 9
    assert(r.getAs[Double]("u_a") == 0.0)
    assert(r.getAs[Double]("u_b") == 9.0)
    // z = (0 − 4.5)/sqrt(0.75·7) ≈ −1.9640
    assert(math.abs(r.getAs[Double]("z") - (-1.9639610121239315)) < 1e-12)
  }

  test("mannWhitneyU: midranks under ties; fully-tied sample has null z") {
    val df = Seq(("A", 1.0), ("A", 1.0), ("B", 1.0), ("B", 1.0)).toDF("g", "v")
    val r = Quality.mannWhitneyU(df, "v", "g", "A", "B").collect()(0)
    // all four share midrank 2.5 → R_a = 5 → U_a = 5 − 3 = 2 = n_a·n_b/2
    assert(r.getAs[Double]("u_a") == 2.0)
    assert(r.getAs[Double]("u_b") == 2.0)
    assert(r.isNullAt(r.fieldIndex("z"))) // σ = 0: z undefined, not NaN
  }

  test("mannWhitneyU: empty side → empty result") {
    val df = Seq(("A", 1.0)).toDF("g", "v")
    assert(Quality.mannWhitneyU(df, "v", "g", "A", "B").collect().isEmpty)
  }

  test("referentialIntegrity: orphan counts per FK; nulls are not violations") {
    val child = Seq(Some(1L), Some(2L), Some(9L), Some(9L), None).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = Quality.referentialIntegrity(child,
      Seq(Quality.FkSpec("t", Seq("fk"), parent, Seq("pk")))).collect()(0)
    assert(r.getString(0) == "t")
    assert(r.getLong(1) == 4L) // null excluded
    assert(r.getLong(2) == 2L) // two rows point at 9
    assert(r.getLong(3) == 1L) // one distinct missing key
  }

  test("benfordDrift: digit histogram, literal expectations, ordered-fold chisq") {
    // first digits: 1,1,2,9 (0.00 and null carry no significant digit)
    val df = Seq(Some(123.45), Some(0.19), Some(250.0), Some(9.99),
      Some(0.0), None).toDF("v")
    val rows = Quality.benfordDrift(df, "v").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.keySet == (1 to 9).toSet)
    assert(rows(1)._1 == 2L && rows(2)._1 == 1L && rows(9)._1 == 1L)
    assert(rows(3)._1 == 0L)
    assert(math.abs(rows(1)._2 - 4.0 * math.log10(2.0)) < 1e-12)
    // the expectations are the pinned table, bit for bit
    (1 to 9).foreach(d => assert(rows(d)._2 == 4.0 * Quality.BenfordP(d - 1)))
    val chisq = Quality.benfordDrift(df, "v").collect()(0).getDouble(3)
    val expected = (1 to 9).map { d =>
      val e = 4.0 * math.log10(1.0 + 1.0 / d)
      val o = rows(d)._1.toDouble
      (o - e) * (o - e) / e
    }.sum
    assert(math.abs(chisq - expected) < 1e-9)
  }

  test("benfordDrift: empty input emits no rows (no 0/0)") {
    val df = Seq.empty[Option[Double]].toDF("v")
    assert(Quality.benfordDrift(df, "v").collect().isEmpty)
  }

  test("kAnonymity: classes below k surface, null QI values group") {
    val df = Seq(("z1", "m"), ("z1", "m"), ("z1", "m"),
      ("z2", "f"), (null, "f")).toDF("zip", "sex")
    val out = Quality.kAnonymity(df, Seq("zip", "sex"), 3)
      .collect().map(r => (Option(r.getString(0)), r.getString(1),
        r.getLong(2))).toSet
    assert(out == Set((Some("z2"), "f", 1L), (None, "f", 1L)))
  }

  test("skewReport: exact counts, hottest key, uniform baseline 1.0") {
    val df = (Seq.fill(6)("hot") ++ Seq("a", "b", "c")).toDF("k")
    val r = Quality.skewReport(df, Seq("k")).collect()(0)
    assert(r.getString(0) == "k" && r.getLong(1) == 9L && r.getLong(2) == 4L)
    assert(r.getLong(3) == 6L && r.getString(4) == "hot")
    assert(math.abs(r.getDouble(5) - 6.0 / (9.0 / 4.0)) < 1e-15)
    val uniform = Quality.skewReport(Seq("x", "y", "z").toDF("k"), Seq("k"))
      .collect()(0)
    assert(uniform.getDouble(5) == 1.0)
  }

  test("conversionRates: Wilson interval stays inside [0,1], matches hand calc") {
    import org.apache.spark.sql.functions.col
    val df = (Seq.fill(9)(("a", 1)) ++ Seq(("a", 0)) ++
      Seq.fill(10)(("b", 0))).toDF("g", "s")
    val out = Quality.conversionRates(df, Seq("g"), col("s") === 1)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val (rate, lo, hi) = out("a")
    assert(rate == 0.9)
    // Wilson 95% for 9/10: ~[0.596, 0.982]
    assert(lo > 0.59 && lo < 0.60 && hi > 0.98 && hi < 0.99)
    val (r0, lo0, hi0) = out("b")
    assert(r0 == 0.0 && lo0 == 0.0 && hi0 > 0.0 && hi0 < 0.35)
  }

  test("benfordDeviation: digit counts, pinned chi2/mad, exclusions") {
    // digits: 1.00->1, 1.50->1 (150c), 2.00->2, 9.99->9; excluded:
    // null, 0.004 (rounds to 0 cents), -3.00 (negative)
    val df = Seq(("g", Some(1.00)), ("g", Some(1.50)), ("g", Some(2.00)),
      ("g", Some(9.99)), ("g", None), ("g", Some(0.004)),
      ("g", Some(-3.00))).toDF("k", "v")
    val out = Quality.benfordDeviation(df, Seq("k"), "v").collect()(0)
    assert(out.getAs[Long]("n") == 4L)
    // replay the exact composition
    val p = Quality.BenfordP
    val obs = Array(2.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0)
    val n = 4.0
    val chi2 = (0 until 9).map { i =>
      val e = n * p(i); (obs(i) - e) * (obs(i) - e) / e
    }.reduce(_ + _)
    val mad = (0 until 9).map(i => math.abs(obs(i) / n - p(i)))
      .reduce(_ + _) / 9.0
    assert(out.getAs[Double]("chi2") == chi2)
    assert(out.getAs[Double]("mad") == mad)
    // a perfectly Benford-weighted sample scores lower chi2 than a
    // uniform-digit one of the same size
    val benford = (0 until 9).flatMap(i =>
      Seq.fill(math.round(p(i) * 1000).toInt)(("b", Some((i + 1).toDouble))))
    val uniform = (0 until 9).flatMap(i =>
      Seq.fill(111)(("u", Some((i + 1).toDouble))))
    val two = Quality.benfordDeviation(
      (benford ++ uniform).toDF("k", "v"), Seq("k"), "v")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("chi2")).toMap
    assert(two("b") < two("u"))
  }
}
