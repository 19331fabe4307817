package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("goLayoutToJava translates common Go layouts") {
    assert(Transforms.goLayoutToJava("2006-01-02") == "yyyy-MM-dd")
    assert(Transforms.goLayoutToJava("2006-01-02T15:04:05Z07:00") ==
      "yyyy-MM-dd'T'HH:mm:ssXXX")
    assert(Transforms.goLayoutToJava("01/02/2006 3:04 PM") == "MM/dd/yyyy h:mm a")
    assert(Transforms.goLayoutToJava("15:04:05.000") == "HH:mm:ss.SSS")
    assert(Transforms.goLayoutToJava("Jan 2, 2006") == "MMM d, yyyy")
  }

  test("goLayoutToJava quotes literal letters and rejects stray digits") {
    assert(Transforms.goLayoutToJava("2006-01-02T15:04:05") == "yyyy-MM-dd'T'HH:mm:ss")
    val e = intercept[IllegalArgumentException] {
      Transforms.goLayoutToJava("2006-01-02 7:00")
    }
    assert(e.getMessage.contains("unrecognized digit"))
  }

  test("transform surface: select/rename/addField/remove/chain") {
    val df = Seq((1L, "  A  ", "x"), (2L, "b", "y")).toDF("id", "name", "tag")
    val out = df.transform(Transforms.chain(
      Transforms.trimSpace("name"),
      Transforms.toLower("name"),
      Transforms.addField("name2", concat(col("name"), lit("!"))),
      Transforms.rename(Map("tag" -> "label")),
      Transforms.select("id", "name2", "label", "missing_is_ok")))
    assert(out.columns.toSeq == Seq("id", "name2", "label"))
    assert(TestSpark.rows(out) == Set(Seq(1L, "a!", "x"), Seq(2L, "b!", "y")))
  }

  test("convertType is null-on-failure; strictCast throws") {
    val df = Seq("12", "oops").toDF("v")
    val lenient = df.transform(Transforms.convertType("v", LongType)).collect()
    assert(lenient.map(r => Option(r.get(0))).toSet == Set(Some(12L), None))
    val e = intercept[Exception] {
      df.transform(Transforms.strictCast("v", LongType)).collect()
    }
    assert(e.getMessage.contains("strictCast") || e.getCause != null)
  }

  test("parseTimeGo parses with a Go layout end-to-end") {
    val out = Seq("05/03/2024 7:45 PM").toDF("t")
      .transform(Transforms.parseTimeGo("t", "01/02/2006 3:04 PM"))
      .collect()(0).getTimestamp(0)
    assert(out.toString == "2024-05-03 19:45:00.0")
  }

  test("filters: notNull excludes empty strings; combinators require args") {
    val df = Seq(("a", 5L), ("", 10L), (null, 15L)).toDF("s", "n")
    assert(df.filter(Filters.notNull("s")).count() == 1)
    assert(df.filter(Filters.and(Filters.gt("n", 1L), Filters.lt("n", 12L))).count() == 2)
    assert(df.filter(Filters.betweenTyped("n", 5L, 10L)).count() == 2)
    intercept[IllegalArgumentException](Filters.and())
    intercept[IllegalArgumentException](Filters.or())
  }

  test("equalsTo / lessThan reference filters; convenience field casts") {
    val df = Seq(("1", "2.5", "x"), ("7", "0.5", "y"), ("8", "zz", "x"))
      .toDF("a", "b", "c")
    val eq = df.filter(Filters.equalsTo("c", "x")).collect()
    assert(eq.map(_.getString(0)).sorted.toSeq == Seq("1", "8"))
    // lenient double coercion: non-numeric "zz" casts to null -> excluded
    assert(df.filter(Filters.lessThan("b", 1.0)).count() == 1)
    val cast = Transforms.toIntField("a")
      .andThen(Transforms.toFloatField("b"))
      .andThen(Transforms.toStringField("c"))(df)
    assert(cast.schema("a").dataType.typeName == "long")
    assert(cast.schema("b").dataType.typeName == "double")
    assert(cast.schema("c").dataType.typeName == "string")
    val r = cast.filter(col("a") === 7L).head
    assert(r.getDouble(1) == 0.5)
    // null-on-failure convention carries over ("zz" -> null double)
    assert(cast.filter(col("a") === 8L).head.isNullAt(1))
  }

  test("typed filter forms push down to parquet scans") {
    val dir = TestSpark.tempDir("graft_pd")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.mode("overwrite").parquet(dir)
    val plan = spark.read.parquet(dir).filter(Filters.gt("k", 1L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,1)]"), plan)
  }

  test("collectErrors splits cast/time failures to the error frame with messages") {
    import org.apache.spark.sql.types.IntegerType
    val df = Seq(
      ("1", "2024-01-02", "ok"),
      ("x", "2024-01-03", "bad int"),
      ("3", "nope", "bad time"),
      ("y", "also-bad", "bad both"),
      (null, null, "nulls pass")
    ).toDF("n", "d", "tag")
    val (good, errs) = Transforms.collectErrors(Seq(
      Transforms.CheckedCast("n", IntegerType),
      Transforms.CheckedParseTime("d", "yyyy-MM-dd")))(df)
    // good: conversions applied, types changed, only clean rows remain
    assert(good.schema("n").dataType == IntegerType)
    assert(good.select("tag").collect().map(_.getString(0)).toSet ==
      Set("ok", "nulls pass"))
    // errors: original values in the record JSON, one message per failure
    val e = errs.collect().map(r => (r.getString(0), r.getSeq[String](1))).toMap
    assert(e.size == 3)
    val both = e.keys.find(_.contains("also-bad")).get
    assert(e(both).size == 2)
    assert(e(both).exists(_.contains("cannot cast 'y'")))
    assert(e(both).exists(_.contains("cannot parse 'also-bad'")))
    assert(e.keys.count(_.contains("\"n\":\"x\"")) == 1)
  }

  test("collectErrors chain order: later stages see earlier conversions") {
    import org.apache.spark.sql.types.IntegerType
    val df = Seq(("10", "keep"), ("oops", "fail")).toDF("v", "tag")
    val (good, errs) = Transforms.collectErrors(Seq(
      Transforms.CheckedCast("v", IntegerType),
      // custom stage on the CONVERTED int value: fails when v > 5
      Transforms.CheckedCustom("v", col("v"),
        col("v").isNotNull && col("v") > 5, lit("v out of range"))))(df)
    assert(good.count() == 0)
    val msgs = errs.collect().map(_.getSeq[String](1)).toSeq
    assert(msgs.exists(_.exists(_.contains("out of range"))))   // 10 > 5
    assert(msgs.exists(_.exists(_.contains("cannot cast 'oops'"))))
    // the cast-failed row is NOT also range-flagged (null input, no error)
    assert(msgs.forall(_.size == 1))
  }

  test("skipErrors drops failing rows; failFast raises with the row's message") {
    import org.apache.spark.sql.types.IntegerType
    val df = Seq(("1", "a"), ("zzz", "b")).toDF("v", "tag")
    val kept = Transforms.skipErrors(Seq(Transforms.CheckedCast("v", IntegerType)))(df)
    assert(kept.select("tag").collect().map(_.getString(0)).toSeq == Seq("a"))
    val e = intercept[Exception] {
      Transforms.failFast(Seq(Transforms.CheckedCast("v", IntegerType)))(df).collect()
    }
    assert(e.getMessage.contains("graft.failFast") || Option(e.getCause).exists(
      _.getMessage.contains("graft.failFast")))
  }

  test("impute: mean/median/mode fill per group, all-null group stays null") {
    import org.apache.spark.sql.functions.col
    val df = Seq(("a", Some(10.0)), ("a", Some(20.0)), ("a", None),
      ("b", None), ("c", Some(5.0))).toDF("g", "v")
    val mean = Transforms.impute(df, Seq("g"), "v", "mean")
      .collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(mean.contains(("a", None, Some(15.0))))
    assert(mean.contains(("b", None, None)))
    val mode = Transforms.impute(
      Seq(("a", Some("x")), ("a", Some("x")), ("a", Some("y")), ("a", None))
        .toDF("g", "v"), Seq("g"), "v", "mode")
      .filter(col("v").isNull).collect()
    assert(mode(0).getString(2) == "x")
    val med = Transforms.impute(df, Seq("g"), "v", "median")
      .collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(med.contains(("a", None, Some(10.0)))) // disc p50 of {10,20} = 10
  }

  test("patch: corrections win, nulls fall back, one-sided rows survive") {
    val base = Seq((1L, Some("a"), Some(10.0)), (2L, Some("b"), Some(20.0)),
      (3L, Some("c"), Some(30.0))).toDF("k", "s", "v")
    val fixes = Seq((2L, Option.empty[String], Some(99.0)),
      (4L, Some("new"), Some(40.0))).toDF("k", "s", "v")
    val out = Transforms.patch(base, fixes, Seq("k"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out == Map(
      1L -> ((Some("a"), Some(10.0))),
      2L -> ((Some("b"), Some(99.0))), // v corrected, s falls back
      3L -> ((Some("c"), Some(30.0))),
      4L -> ((Some("new"), Some(40.0))))) // correction-only row
  }
  test("melt: long form keeps nulls, casts to a common type, " +
    "row count multiplies by measures") {
    val df = Seq((1L, 2.0, Some(3.0)), (2L, 5.0, None))
      .toDF("id", "m1", "m2")
    val out = Transforms.melt(df, Seq("id"), Seq("m1", "m2"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    assert(out == Set(
      (1L, "m1", Some(2.0)), (1L, "m2", Some(3.0)),
      (2L, "m1", Some(5.0)), (2L, "m2", None)))
    val named = Transforms.melt(df, Seq("id"), Seq("m1"),
      varName = "metric", valueName = "reading")
    assert(named.columns.toSeq == Seq("id", "metric", "reading"))
    assert(Transforms.melt(df.limit(0), Seq("id"), Seq("m1", "m2"))
      .count() == 0)
  }
}
