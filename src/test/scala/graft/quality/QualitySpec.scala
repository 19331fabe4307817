package graft.quality

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class QualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df = Seq(
    (1L, Option("a@x.com"), Option(10.0)),
    (2L, Option("bad-email"), Option(200.0)),
    (3L, Option.empty[String], Option.empty[Double]))
    .toDF("id", "email", "score")

  test("metrics: one row with per-rule violation counts") {
    val cfg = Quality.Config(
      maxNullRate = 0.1, nullRateFields = Seq("email", "score"),
      rules = Seq(
        Quality.FieldRule("email", fieldType = Some("email")),
        Quality.FieldRule("score", min = Some(0.0), max = Some(100.0))))
    val m = Quality.metrics(df, cfg).collect()(0)
    assert(m.getAs[Long]("n_records") == 3L)
    assert(m.getAs[Long]("email__nulls") == 1L)
    assert(m.getAs[Long]("email__type_email") == 1L) // "bad-email"
    assert(m.getAs[Long]("score__max") == 1L)        // 200.0
    assert(m.getAs[Long]("score__min") == 0L)
  }

  test("validate reports count, null-rate, schema, and rule violations") {
    val cfg = Quality.Config(
      minRecords = 10, maxNullRate = 0.1,
      nullRateFields = Seq("email"),
      requiredFields = Seq("id", "missing_col"),
      forbiddenFields = Seq("score"),
      rules = Seq(Quality.FieldRule("score", max = Some(100.0))))
    val errs = Quality.validate(df, cfg)
    assert(errs.exists(_.contains("insufficient records")))
    assert(errs.exists(_.contains("missing required field: missing_col")))
    assert(errs.exists(_.contains("forbidden field: score")))
    assert(errs.exists(_.contains("null rate")))
    assert(errs.exists(_.contains("score__max")))
  }

  test("dataset-level custom validators report failures by name") {
    val cfg = Quality.Config(customValidators = Seq(
      "has_rows" -> (_.count() > 0),
      "impossible" -> (_.count() > 1000),
      "throws" -> (_ => throw new RuntimeException("boom"))))
    val errs = Quality.validate(df, cfg)
    assert(!errs.exists(_.contains("has_rows")))
    assert(errs.exists(_.contains("custom validator impossible failed validation")))
    assert(errs.exists(_.contains("custom validator throws failed: boom")))
  }

  test("validateOrThrow passes a clean config and throws on violation") {
    Quality.validateOrThrow(df, Quality.Config(minRecords = 1))
    val e = intercept[Quality.QualityException] {
      Quality.validateOrThrow(df, Quality.Config(minRecords = 100))
    }
    assert(e.violations.nonEmpty)
  }

  test("profile: per-column rows/nulls/distinct in one pass; approx mode runs") {
    val out = Quality.profile(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("id") == (3L, 0L, 3L))
    assert(out("email") == (3L, 1L, 2L))   // distinct ignores the null
    assert(out("score") == (3L, 1L, 2L))
    // HLL path: same shape, rows/nulls exact, distinct approximate
    val approx = Quality.profile(df, exact = false).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx("email") == (3L, 1L))
  }

  test("profile survives column names with quotes, backticks, and commas") {
    val df = spark.range(3).toDF("id")
      .withColumn("we'ird, na`me", org.apache.spark.sql.functions.expr("CASE WHEN id = 0 THEN NULL ELSE id END"))
    val out = Quality.profile(df, Seq("we'ird, na`me")).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getString(0) == "we'ird, na`me")
    assert(r.getLong(1) == 3L && r.getLong(2) == 1L && r.getLong(3) == 2L)
  }

  test("madOutlierFilter keeps |x-median| <= k*MAD per group; nulls drop") {
    // group a: 1..7 plus outlier 1000 → median 4 (rank ceil(8/2)=4),
    // deviations {3,2,1,0,1,2,3,996}, MAD = 2 (rank 4 of sorted devs)
    // k=1.5 → keep |x-4| <= 3: all of 1..7, outlier dropped
    val df = (Seq.tabulate(7)(i => ("a", Some(i + 1.0))) ++
      Seq(("a", Some(1000.0)), ("a", None), ("b", Some(5.0))))
      .toDF("g", "v")
    val out = Quality.madOutlierFilter(df, Seq("g"), "v", k = 1.5)
    val aVals = out.filter($"g" === "a").select("v").collect()
      .map(_.getDouble(0)).sorted.toSeq
    assert(aVals == (1 to 7).map(_.toDouble))
    // singleton group: MAD 0, |x-x|=0 <= 0 → kept
    assert(out.filter($"g" === "b").count() == 1)
    assert(out.columns.toSeq == Seq("g", "v"))
  }

  test("madOutlierFilter: null group keys form a real group (null-safe stat joins)") {
    val df = (Seq.tabulate(5)(i => (Option.empty[String], Some(i + 1.0))) :+
      (Option.empty[String], Some(500.0)) :+ (Some("a"), Some(1.0)))
      .toDF("g", "v")
    val out = Quality.madOutlierFilter(df, Seq("g"), "v", k = 1.5)
    // null group: median 3 (n=6, rank 3), devs {2,1,0,1,2,497} → MAD 1
    // (rank 3 of {0,1,1,2,2,497}); keep |x-3| <= 1.5 → {2,3,4}
    val kept = out.filter($"g".isNull).select("v").collect()
      .map(_.getDouble(0)).sorted.toSeq
    assert(kept == Seq(2.0, 3.0, 4.0), s"got $kept")
    assert(out.filter($"g" === "a").count() == 1)
  }

  test("madOutlierFilter: survives scratch-name collisions in the input") {
    val df = Seq(("a", 1.0, "keep"), ("a", 2.0, "keep"), ("a", 3.0, "keep"))
      .toDF("g", "v", "__graft_mad_med")
    val out = Quality.madOutlierFilter(df, Seq("g"), "v", k = 3.0)
    assert(out.count() == 3)
    assert(out.select("__graft_mad_med").collect().forall(_.getString(0) == "keep"))
  }

  test("ksDrift: hand-checked statistic, ties across slices are order-free") {
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 2.0), ("b", 4.0))
      .toDF("g", "v")
    val r = Quality.ksDrift(df, "v", "g", "a", "b").collect().head
    assert((r.getLong(0), r.getLong(1)) == ((2L, 2L)))
    assert(r.getDouble(2) == 0.5)
    // identical distributions (with cross-slice ties) -> 0 drift
    val same = Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0)).toDF("g", "v")
    assert(Quality.ksDrift(same, "v", "g", "a", "b").collect().head.getDouble(2) == 0.0)
    // disjoint supports -> full drift
    val far = Seq(("a", 1.0), ("b", 9.0)).toDF("g", "v")
    assert(Quality.ksDrift(far, "v", "g", "a", "b").collect().head.getDouble(2) == 1.0)
  }

  test("ksDrift: an empty slice yields an empty frame, not a null row") {
    val df = Seq(("a", 1.0)).toDF("g", "v")
    assert(Quality.ksDrift(df, "v", "g", "a", "b").count() == 0)
    assert(Quality.ksDriftBinned(df, "v", "g", "a", "b", 16).count() == 0)
  }

  test("ksDriftBinned converges to the exact statistic") {
    val df = ((1 to 50).map(i => ("a", i.toDouble)) ++
      (1 to 50).map(i => ("b", i * 1.4))).toDF("g", "v")
    val exact = Quality.ksDrift(df, "v", "g", "a", "b").collect().head.getDouble(2)
    val coarse = Quality.ksDriftBinned(df, "v", "g", "a", "b", 8)
      .collect().head.getDouble(2)
    val fine = Quality.ksDriftBinned(df, "v", "g", "a", "b", 4096)
      .collect().head.getDouble(2)
    // binned evaluates the CDF gap only at bucket edges: never above
    // exact, within max-bucket-mass below it, converging as bins grow
    assert(coarse <= exact + 1e-12)
    assert(math.abs(fine - exact) < 0.03, s"fine=$fine exact=$exact")
    // degenerate span (all values equal): one bucket, zero drift
    val const = Seq(("a", 2.0), ("b", 2.0)).toDF("g", "v")
    assert(Quality.ksDriftBinned(const, "v", "g", "a", "b", 16)
      .collect().head.getDouble(2) == 0.0)
  }
  test("functionalDependency: holds/breaks per determinant, majority " +
    "tie by value, null dependent is a distinct class") {
    val df = Seq(
      ("10001", "Springfield"), ("10001", "Springfield"),
      ("10001", "Shelbyville"),                  // broken FD, majority wins
      ("20002", "Ogdenville"),                   // clean FD
      ("30003", "A"), ("30003", "B"),            // tie -> 'A' (value asc)
      ("40004", null), ("40004", null), ("40004", "X") // null majority
    ).toDF("zip", "city")
    val out = Quality.functionalDependency(df, Seq("zip"), "city")
      .collect().map(r => r.getString(0) -> r).toMap
    val z1 = out("10001")
    assert(z1.getAs[Long]("n") == 3L &&
      z1.getAs[Long]("n_distinct_dep") == 2L &&
      z1.getAs[String]("majority_dep") == "Springfield" &&
      z1.getAs[Long]("majority_support") == 2L &&
      z1.getAs[Long]("n_violations") == 1L)
    assert(out("20002").getAs[Long]("n_violations") == 0L)
    assert(out("30003").getAs[String]("majority_dep") == "A")
    val z4 = out("40004")
    assert(z4.isNullAt(z4.fieldIndex("majority_dep")) &&
      z4.getAs[Long]("majority_support") == 2L &&
      z4.getAs[Long]("n_violations") == 1L)
    assert(Quality.functionalDependency(df.limit(0), Seq("zip"), "city")
      .count() == 0)
  }
  test("dpCounts: deterministic noise per (key, seed); epsilon scales " +
    "it; true counts exact") {
    val df = (Seq.fill(100)("a") ++ Seq.fill(50)("b")).map(Tuple1(_))
      .toDF("k")
    val r1 = Privacy.dpCounts(df, Seq("k"), epsilon = 0.5, seed = "s1")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(r1("a").getAs[Long]("n") == 100L &&
      r1("b").getAs[Long]("n") == 50L)
    // reproducible: same seed, same noise
    val r2 = Privacy.dpCounts(df, Seq("k"), epsilon = 0.5, seed = "s1")
      .collect().map(r => r.getString(0) ->
        r.getAs[Double]("n_noisy")).toMap
    assert(r2("a") == r1("a").getAs[Double]("n_noisy"))
    // different seed, (almost surely) different noise
    val r3 = Privacy.dpCounts(df, Seq("k"), epsilon = 0.5, seed = "s2")
      .collect().map(r => r.getString(0) ->
        r.getAs[Double]("n_noisy")).toMap
    assert(r3("a") != r2("a"))
    // noise scales as 1/epsilon: eps 0.25 doubles the same draw
    val r4 = Privacy.dpCounts(df, Seq("k"), epsilon = 0.25, seed = "s1")
      .collect().map(r => r.getString(0) ->
        r.getAs[Double]("n_noisy")).toMap
    assert(math.abs((r4("a") - 100.0) - 2.0 * (r2("a") - 100.0)) < 1e-9)
  }
  test("tableFingerprint: order/partitioning-invariant, row-change " +
    "sensitive, null distinct from empty string") {
    val df = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z"))
      .toDF("id", "s1", "s2")
    def sig(d: org.apache.spark.sql.DataFrame) = {
      val r = Quality.tableFingerprint(d, Nil, Seq("id", "s1", "s2"))
        .collect().head
      (r.getAs[Long]("n"), r.getAs[Long]("xor_sig"),
        r.getAs[Long]("sum_sig"), r.getAs[Long]("min_sig"),
        r.getAs[Long]("max_sig"))
    }
    val base = sig(df)
    assert(base._1 == 3L)
    // any row order / partition count yields the identical fingerprint
    assert(sig(df.orderBy(org.apache.spark.sql.functions.col("s1").desc)
      .repartition(7)) == base)
    assert(sig(df.repartition(1)) == base)
    // one changed cell flips the signature
    val changed = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "Z"))
      .toDF("id", "s1", "s2")
    assert(sig(changed) != base)
    // null and empty string canonicalize differently
    val withNull = Seq((1L, null.asInstanceOf[String], "x"))
      .toDF("id", "s1", "s2")
    val withEmpty = Seq((1L, "", "x")).toDF("id", "s1", "s2")
    assert(sig(withNull) != sig(withEmpty))
    // grouped form: per-key rows
    val g = Quality.tableFingerprint(
      df.withColumn("k", org.apache.spark.sql.functions.expr("id % 2")),
      Seq("k"), Seq("id", "s1")).collect()
    assert(g.length == 2)
  }

  test("skewProfile: top-k by count with value tie-break, exact shares " +
    "and distinct counts; nulls excluded") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(1L)), ("a", Some(1L)), ("a", Some(2L)),
      ("b", None), ("b", Some(3L)), ("c", Some(3L))
    ).toDF("s", "v")
    val out = Quality.skewProfile(df, Seq("s", "v"), k = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getInt(3), r.getDouble(4), r.getLong(5), r.getLong(6)))
    val s = out.filter(_._1 == "s").sortBy(_._4)
    // s: a×3, b×2, c×1 -> top-2 = a,b; 6 rows, 3 distinct
    assert(s.map(t => (t._2, t._3)).toSeq == Seq(("a", 3L), ("b", 2L)))
    assert(s.head._5 == 0.5 && s.head._6 == 6L && s.head._7 == 3L)
    val v = out.filter(_._1 == "v").sortBy(_._4)
    // v: "1"×2, "3"×2 (tie -> "1" first by value asc), 5 non-null rows
    assert(v.map(t => (t._2, t._3)).toSeq == Seq(("1", 2L), ("3", 2L)))
    assert(v.head._6 == 5L && v.head._7 == 3L)
  }

  test("missingnessPatterns: null combinations count, share, rank") {
    val df = Seq(
      (Some("a"), Some(1L)), (Some("b"), Some(2L)), (Some("c"), Some(3L)),
      (None, Some(4L)), (None, None)
    ).asInstanceOf[Seq[(Option[String], Option[Long])]]
      .toDF("s", "n")
    val out = Quality.missingnessPatterns(df, Seq("s", "n"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getInt(3))).toMap
    assert(out("s=1,n=1") == ((3L, 0.6, 1)))
    assert(out("s=0,n=0") == ((1L, 0.2, 2))) // count tie: pattern asc
    assert(out("s=0,n=1") == ((1L, 0.2, 3)))
    assert(out.size == 3)
  }

  test("lDiversity: at-risk QI classes only; null sensitive values " +
    "do not count as a value") {
    val df = Seq(
      ("g1", Some("s1")), ("g1", Some("s2")), ("g1", Some("s3")),
      ("g2", Some("s1")), ("g2", Some("s1")), ("g2", None),
      ("g3", Some("s1")), ("g3", Some("s2"))
    ).toDF("qi", "sens")
    val out = Quality.lDiversity(df, Seq("qi"), "sens", l = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // g1 has 3 distinct -> safe; g2 has 1 (null not counted); g3 has 2
    assert(out == Map("g2" -> ((3L, 1L)), "g3" -> ((2L, 2L))))
  }

  private def exDf = Seq(
    (1L, Option("a"), Option(10.0)),
    (2L, Option("b"), Option(20.0)),
    (2L, Option("zz"), Option(200.0)),
    (4L, Option.empty[String], Option.empty[Double]))
    .toDF("id", "tag", "score")

  test("expectations: one report row per expectation; row-level " +
    "counts, mostly-tolerance, aggregate bounds, exists, missing " +
    "column fails clearly") {
    import Quality.Expectation
    val suite = Seq(
      Expectation("ids unique", "unique", "id"),
      Expectation("tag mostly set", "not_null", "tag",
        maxViolationRate = 0.25),
      Expectation("tag never null", "not_null", "tag"),
      Expectation("score range", "between", "score",
        lo = Some(0.0), hi = Some(100.0)),
      Expectation("tags in vocab", "in_set", "tag",
        values = Seq("a", "b")),
      Expectation("tag shape", "matches", "tag", values = Seq("^[ab]$")),
      Expectation("enough rows", "row_count_between",
        lo = Some(2.0), hi = Some(10.0)),
      Expectation("id cardinality", "distinct_count_between", "id",
        lo = Some(3.0), hi = Some(3.0)),
      Expectation("mean score", "mean_between", "score",
        lo = Some(76.0), hi = Some(77.0)),
      Expectation("score exists", "exists", "score"),
      Expectation("ghost column", "not_null", "nope"))
    val out = Quality.expectations(exDf, suite).collect()
      .map(r => r.getAs[String]("name") -> r).toMap
    assert(out.size == suite.size)
    val uniq = out("ids unique")
    assert(uniq.getAs[Long]("violations") == 1L) // id 2 twice
    assert(!uniq.getAs[Boolean]("passed"))
    assert(out("tag mostly set").getAs[Boolean]("passed")) // 1/4 = 0.25
    assert(!out("tag never null").getAs[Boolean]("passed"))
    assert(out("tag never null").getAs[Double]("violation_rate") == 0.25)
    assert(out("score range").getAs[Long]("violations") == 1L) // 200
    assert(out("tags in vocab").getAs[Long]("violations") == 1L) // zz
    assert(out("tag shape").getAs[Long]("violations") == 1L)
    assert(out("enough rows").getAs[Boolean]("passed"))
    assert(out("enough rows").getAs[Double]("observed") == 4.0)
    assert(out("id cardinality").getAs[Boolean]("passed"))
    // mean on the 1e-6 grid: (10 + 20 + 200)/3 — exact sum, one
    // pinned division
    assert(out("mean score").getAs[Double]("observed") == 230.0 / 3.0)
    assert(out("mean score").getAs[Boolean]("passed"))
    assert(out("score exists").getAs[Boolean]("passed"))
    val ghost = out("ghost column")
    assert(!ghost.getAs[Boolean]("passed"))
    assert(ghost.getAs[String]("detail").contains("absent"))
  }

  test("expectationsFrom: suite loaded from a DataFrame (string " +
    "values column split on ','); matches the literal-suite report") {
    import Quality.Expectation
    val suiteDf = Seq(
      ("ids unique", "unique", Some("id"), None: Option[Double],
        None: Option[Double], None: Option[String], Some(0.0)),
      ("tags in vocab", "in_set", Some("tag"), None, None,
        Some("a,b"), None),
      ("rows", "row_count_between", None, Some(2.0), Some(10.0),
        None, None))
      .toDF("name", "kind", "column", "lo", "hi", "values",
        "max_violation_rate")
    val fromDf = Quality.expectationsFrom(exDf, suiteDf)
      .collect().map(r => r.getAs[String]("name") ->
        (r.getAs[Boolean]("passed"), r.getAs[Any]("violations"))).toMap
    val literal = Quality.expectations(exDf, Seq(
      Expectation("ids unique", "unique", "id"),
      Expectation("tags in vocab", "in_set", "tag",
        values = Seq("a", "b")),
      Expectation("rows", "row_count_between",
        lo = Some(2.0), hi = Some(10.0))))
      .collect().map(r => r.getAs[String]("name") ->
        (r.getAs[Boolean]("passed"), r.getAs[Any]("violations"))).toMap
    assert(fromDf == literal)
    assert(!fromDf("ids unique")._1 && fromDf("rows")._1)
    // unknown kind in the config fails fast, naming the row
    val bad = Seq(("x", "no_such_kind", Some("id"), None: Option[Double],
      None: Option[Double], None: Option[String], None: Option[Double]))
      .toDF("name", "kind", "column", "lo", "hi", "values",
        "max_violation_rate")
    val e = intercept[IllegalArgumentException] {
      Quality.expectationsFrom(exDf, bad)
    }
    assert(e.getMessage.contains("no_such_kind"))
  }

  test("expectationsByKey: per-segment report — each key rated " +
    "against its own rows, segment-size and per-segment-mean bounds") {
    import Quality.Expectation
    val df = Seq(
      ("g1", 1L, Option("a"), Option(10.0)),
      ("g1", 2L, Option("b"), Option(20.0)),
      ("g1", 2L, Option("zz"), Option(200.0)),
      ("g2", 5L, Option("a"), Option(10.0)),
      ("g2", 6L, Option.empty[String], Option.empty[Double]))
      .toDF("seg", "id", "tag", "score")
    val suite = Seq(
      Expectation("ids unique", "unique", "id"),
      Expectation("tag set", "not_null", "tag"),
      Expectation("score range", "between", "score",
        lo = Some(0.0), hi = Some(100.0)),
      Expectation("segment size", "row_count_between", lo = Some(3.0)),
      Expectation("segment mean", "mean_between", "score",
        lo = Some(0.0), hi = Some(50.0)),
      Expectation("id cardinality", "distinct_count_between", "id",
        lo = Some(2.0), hi = Some(3.0)))
    val out = Quality.expectationsByKey(df, Seq("seg"), suite)
      .collect()
      .map(r => (r.getString(0), r.getAs[String]("name")) -> r).toMap
    assert(out.size == 12) // 2 segments x 6 expectations
    assert(out(("g1", "ids unique")).getAs[Long]("violations") == 1L)
    assert(!out(("g1", "ids unique")).getAs[Boolean]("passed"))
    assert(out(("g2", "ids unique")).getAs[Boolean]("passed"))
    assert(out(("g2", "tag set")).getAs[Double]("violation_rate") == 0.5)
    assert(out(("g1", "tag set")).getAs[Boolean]("passed"))
    assert(out(("g1", "score range")).getAs[Long]("violations") == 1L)
    assert(out(("g2", "score range")).getAs[Boolean]("passed"))
    // segment-size bound: g1 has 3 rows (pass), g2 has 2 (fail)
    assert(out(("g1", "segment size")).getAs[Boolean]("passed"))
    assert(!out(("g2", "segment size")).getAs[Boolean]("passed"))
    assert(out(("g2", "segment size")).getAs[Double]("observed") == 2.0)
    // per-segment mean: exact decimal sum, one pinned division
    assert(out(("g1", "segment mean")).getAs[Double]("observed")
      == 230.0 / 3.0)
    assert(!out(("g1", "segment mean")).getAs[Boolean]("passed"))
    assert(out(("g2", "segment mean")).getAs[Boolean]("passed"))
    assert(out(("g1", "id cardinality")).getAs[Double]("observed")
      == 2.0)
    assert(out(("g2", "id cardinality")).getAs[Boolean]("passed"))
    // checking a grouping key inside its own groups is rejected
    intercept[IllegalArgumentException] {
      Quality.expectationsByKey(df, Seq("seg"),
        Seq(Expectation("bad", "not_null", "seg")))
    }
  }

  test("expectationsOrThrow lists every failed expectation; a " +
    "passing suite is silent; empty input passes row-level checks") {
    import Quality.Expectation
    val e = intercept[Quality.QualityException] {
      Quality.expectationsOrThrow(exDf, Seq(
        Expectation("ids unique", "unique", "id"),
        Expectation("enough rows", "row_count_between", lo = Some(9.0))))
    }
    assert(e.violations.size == 2)
    Quality.expectationsOrThrow(exDf, Seq(
      Expectation("some rows", "row_count_between", lo = Some(1.0))))
    // empty frame: one report row per expectation of every kind.
    // Rate checks pass (0 violations / 0 rows), bounds on the row
    // count still bite, a mean of nothing is null and fails, and
    // distinct counts are 0
    val empty = exDf.filter($"id" < 0L)
    val suite = Seq(
      Expectation("tag never null", "not_null", "tag"),
      Expectation("score range", "between", "score",
        lo = Some(0.0), hi = Some(100.0)),
      Expectation("tags in vocab", "in_set", "tag", values = Seq("a")),
      Expectation("tag shape", "matches", "tag", values = Seq("^a$")),
      Expectation("ids unique", "unique", "id"),
      Expectation("rows", "row_count_between", lo = Some(1.0)),
      Expectation("no ids", "distinct_count_between", "id",
        hi = Some(0.0)),
      Expectation("mean score", "mean_between", "score", lo = Some(0.0)),
      Expectation("score exists", "exists", "score"),
      Expectation("ghost column", "not_null", "nope"))
    val rows = Quality.expectations(empty, suite).collect()
    assert(rows.map(_.getAs[String]("name")).toSeq == suite.map(_.name))
    val rep = rows.map(r => r.getAs[String]("name") -> r).toMap
    // getAs[Long] reads a null as 0: read the cells as Options
    def cell(name: String, c: String) = Option(rep(name).getAs[Any](c))
    assert(rows.forall(_.getAs[Long]("n_rows") == 0L))
    for (name <- Seq("tag never null", "score range", "tags in vocab",
        "tag shape", "ids unique")) {
      assert(cell(name, "violations") == Some(0L), name)
      assert(cell(name, "violation_rate") == Some(0.0), name)
      assert(rep(name).getAs[Boolean]("passed"), name)
    }
    assert(!rep("rows").getAs[Boolean]("passed"))
    assert(cell("rows", "observed") == Some(0.0))
    assert(cell("no ids", "observed") == Some(0.0))
    assert(rep("no ids").getAs[Boolean]("passed"))
    assert(cell("mean score", "observed").isEmpty)
    assert(!rep("mean score").getAs[Boolean]("passed"))
    assert(rep("score exists").getAs[Boolean]("passed"))
    assert(!rep("ghost column").getAs[Boolean]("passed"))
    assert(rep("ghost column").getAs[String]("detail").contains("absent"))
  }

  test("suggestExpectations: exists/not_null/between/in_set/unique/" +
    "row_count from observed stats; round-trips through " +
    "expectationsFrom all-green on the data it came from") {
    val df = Seq(
      (1L, "a", Option(1.0), "x"),
      (2L, "b", Option(3.0), "x"),
      (3L, "a", Option.empty[Double], "y"))
      .toDF("id", "tag", "score", "grp")
    val suite = Quality.suggestExpectations(df, slack = 0.1,
      maxSetSize = 2)
    val rows = suite.collect().map(r =>
      (r.getAs[String]("column"), r.getAs[String]("kind")) -> r).toMap
    // row count: floor(3*0.9)=2, ceil(3*1.1)=4
    val rc = rows(("", "row_count_between"))
    assert(rc.getAs[Double]("lo") == 2.0 && rc.getAs[Double]("hi") == 4.0)
    // id: numeric, unique, null-free
    assert(rows.contains(("id", "exists")))
    assert(rows(("id", "not_null")).getAs[Double]("max_violation_rate") == 0.0)
    val idB = rows(("id", "between"))
    assert(idB.getAs[Double]("lo") == 1.0 - 0.1 * 2.0)
    assert(idB.getAs[Double]("hi") == 3.0 + 0.1 * 2.0)
    assert(rows.contains(("id", "unique")))
    // tag: vocabulary exactly at maxSetSize, repeated → in_set, no unique
    assert(rows(("tag", "in_set")).getAs[scala.collection.Seq[String]]("values").toSeq ==
      Seq("a", "b"))
    assert(!rows.contains(("tag", "unique")))
    // score: 1/3 null → widened rate; its two non-null values are
    // distinct → unique IS suggested (it holds today, which is the
    // contract: the suite passes on the data it was learned from)
    assert(rows(("score", "not_null")).getAs[Double]("max_violation_rate")
      == (1.0 / 3.0) * 1.1)
    assert(rows.contains(("score", "unique")))
    // grp: 2 values on 3 rows → in_set, no unique; no between (string)
    assert(rows(("grp", "in_set")).getAs[scala.collection.Seq[String]]("values").toSeq ==
      Seq("x", "y"))
    assert(!rows.contains(("grp", "between")))
    // the loop: replaying the suggested suite on the SAME data passes
    val replay = Quality.expectationsFrom(df, suite).collect()
    assert(replay.nonEmpty && replay.forall(_.getAs[Boolean]("passed")))
    // empty frame: exists rows + row_count [0,0] only
    val emptySuite = Quality
      .suggestExpectations(df.filter($"id" < 0L)).collect()
    assert(emptySuite.map(_.getAs[String]("kind")).toSet ==
      Set("exists", "row_count_between"))
    val erc = emptySuite.filter(
      _.getAs[String]("kind") == "row_count_between")(0)
    assert(erc.getAs[Double]("lo") == 0.0 && erc.getAs[Double]("hi") == 0.0)
  }

  test("between counts a non-null value that fails the numeric cast " +
    "as a violation — garbage never silently passes a range check") {
    import Quality.Expectation
    val df = Seq(("a", "10"), ("a", "abc"), ("b", "5"), ("b", null))
      .toDF("seg", "amt")
    val suite = Seq(Expectation("amt range", "between", "amt",
      lo = Some(0.0), hi = Some(100.0)))
    // global: "abc" is non-null, uncastable → 1 violation (the null
    // row stays excluded: not_null's territory, not between's)
    val g = Quality.expectations(df, suite).collect()(0)
    assert(g.getAs[Long]("violations") == 1L)
    assert(!g.getAs[Boolean]("passed"))
    // per-key: the violation lands in seg a only
    val k = Quality.expectationsByKey(df, Seq("seg"), suite).collect()
      .map(r => r.getAs[String]("seg") -> r.getAs[Long]("violations"))
      .toMap
    assert(k == Map("a" -> 1L, "b" -> 0L))
  }
}
