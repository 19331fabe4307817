package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PlanLintSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private def report(df: DataFrame, maxExchanges: Int = 4)
      : Map[String, (String, Long)] =
    PlanLint.findings(df, maxExchanges)
      .map(f => f.rule -> ((f.status, f.n))).toMap

  private val allRules = Seq("cartesian-join", "nested-loop-join",
    "global-window", "global-sort", "exchange-count",
    "broadcastable-join", "partition-filter-missing",
    "filter-not-pushed", "full-width-scan", "interpreted-stage",
    "scala-udf")

  test("clean plan: one row per rule, all ok; lint() is rule-sorted") {
    val df = Seq((1, "a"), (2, "b")).toDF("id", "s")
      .filter($"id" > 0).groupBy("s").count()
    val r = report(df)
    assert(r.keySet == allRules.toSet)
    assert(allRules.filterNot(_ == "exchange-count")
      .forall(k => r(k) == (("ok", 0L))))
    assert(r("exchange-count")._1 == "ok") // 1 groupBy shuffle <= 4
    val rows = PlanLint.lint(df).collect()
    assert(rows.map(_.getString(0)).toSeq == allRules.sorted)
    assert(rows.forall(_.getString(1) == "ok"))
  }

  test("empty relation lints all-ok (empty-input contract)") {
    val r = report(spark.emptyDataFrame)
    assert(r.values.forall(_._1 == "ok"))
  }

  test("cartesian-join fires on SHUFFLE_REPLICATE_NL cross join; " +
    "nested-loop-join fires on a broadcast cross join") {
    val a = Seq(1, 2).toDF("a"); val b = Seq(3, 4).toDF("b")
    val cart = report(a.hint("shuffle_replicate_nl").crossJoin(b))
    assert(cart("cartesian-join") == (("warn", 1L)))
    val bnlj = report(a.crossJoin(b))
    assert(bnlj("nested-loop-join") == (("warn", 1L)))
    assert(bnlj("cartesian-join")._1 == "ok")
  }

  test("global-window fires only on an empty PARTITION BY") {
    val df = Seq((1, "a"), (2, "b")).toDF("id", "s")
    val global = df.withColumn("r", row_number().over(
      Window.orderBy($"id")))
    assert(report(global)("global-window") == (("warn", 1L)))
    val keyed = df.withColumn("r", row_number().over(
      Window.partitionBy($"s").orderBy($"id")))
    assert(report(keyed)("global-window")._1 == "ok")
  }

  test("global-sort fires on orderBy, not on sortWithinPartitions " +
    "or a top-k limit") {
    val df = Seq(3, 1, 2).toDF("v")
    assert(report(df.orderBy($"v"))("global-sort") == (("warn", 1L)))
    assert(report(df.sortWithinPartitions($"v"))("global-sort")._1 == "ok")
    // sort+limit plans as TakeOrderedAndProject — no SortExec at all
    assert(report(df.orderBy($"v").limit(2))("global-sort")._1 == "ok")
  }

  test("exchange-count warns past the ceiling and reports the count") {
    val df = Seq((1, "a")).toDF("id", "s").groupBy("s").count()
    val r = report(df, maxExchanges = 0)
    assert(r("exchange-count")._1 == "warn")
    assert(r("exchange-count")._2 >= 1L)
  }

  test("broadcastable-join fires on a merge-hinted tiny join and " +
    "stays quiet when the join already broadcasts") {
    val a = Seq((1, "x"), (2, "y")).toDF("k", "s")
    val b = Seq((1, 10), (2, 20)).toDF("k", "v")
    val smj = a.hint("merge").join(b.hint("merge"), "k")
    assert(report(smj)("broadcastable-join") == (("warn", 1L)))
    val bc = a.join(broadcast(b), "k")
    assert(report(bc)("broadcastable-join")._1 == "ok")
  }

  test("partition-filter-missing fires on an unpruned partitioned " +
    "scan and clears once the partition column is filtered") {
    val dir = graft.TestSpark.tempDir("graft_lint_part")
    Seq((1, "a"), (2, "b"), (3, "a")).toDF("v", "p")
      .write.partitionBy("p").mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    assert(report(scan.select("v"))("partition-filter-missing") ==
      (("warn", 1L)))
    assert(report(scan.filter($"p" === "a"))(
      "partition-filter-missing")._1 == "ok")
  }

  test("filter-not-pushed fires when no predicate reaches the " +
    "reader; a plain comparison pushes and clears it") {
    val dir = graft.TestSpark.tempDir("graft_lint_push")
    Seq(("abc", 1), ("de", 2)).toDF("s", "v")
      .write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    // length() has no parquet filter translation: dataFilters
    // non-empty, PushedFilters []
    assert(report(scan.filter(length($"s") > 2))(
      "filter-not-pushed") == (("warn", 1L)))
    assert(report(scan.filter($"v" > 1))("filter-not-pushed")._1 == "ok")
  }

  test("filter-not-pushed counts PushedFilters bracket-aware: an In " +
    "value containing ', ' no longer masks an unpushed predicate") {
    val dir = graft.TestSpark.tempDir("graft_lint_in")
    Seq(("a, b", 1), ("c", 2)).toDF("s", "v")
      .write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    // dataFilters: isnotnull(s), In(s, [a, b,c]), length(s) > 1 —
    // length() has no parquet translation, so exactly one predicate
    // is unpushed; the In rendering carries ", " INSIDE its bracket,
    // which a naive ", " split counts as an extra pushed filter,
    // equalizing the counts and masking the warn
    assert(report(scan.filter($"s".isin("a, b", "c") &&
      length($"s") > 1))("filter-not-pushed") == (("warn", 1L)))
    // every predicate translated: stays ok under the same rendering
    assert(report(scan.filter($"s".isin("a, b", "c")))(
      "filter-not-pushed")._1 == "ok")
  }

  test("install: a session listener lints every action's AQE-final " +
    "plan; warnings/clear/close contract") {
    // a fresh child session: its ExecutionListenerManager is its own,
    // so concurrently-running suites on the shared session can never
    // bleed actions into this test's recording
    val s2 = spark.newSession()
    import s2.implicits._
    val lint = PlanLint.install(s2)
    Seq((1, "a"), (2, "b")).toDF("id", "s")
      .groupBy($"s").count().collect()
    val bad = Seq((1, "a"), (2, "b")).toDF("id", "s")
      .withColumn("rn", row_number().over(Window.orderBy($"id")))
    bad.collect()
    org.apache.spark.graft.BenchInternals
      .drainListenerBus(s2.sparkContext)
    val rep = lint.report().collect() // snapshot BEFORE its own action
    assert(rep.length == 2 * allRules.size)
    assert(rep.map(_.getAs[String]("rule")).distinct.sorted.toSeq ==
      allRules.sorted)
    assert(rep.filter(_.getAs[Long]("action") == 0L)
      .forall(_.getAs[String]("status") == "ok"))
    val a1 = rep.filter(_.getAs[Long]("action") == 1L)
      .map(r => r.getAs[String]("rule") -> r.getAs[String]("status"))
      .toMap
    assert(a1("global-window") == "warn")
    val w = lint.warnings
    assert(w.nonEmpty && w.forall(_._1 == 1L) &&
      w.exists(_._3.rule == "global-window"))
    lint.clear()
    lint.close()
    bad.collect() // post-close action: never recorded
    org.apache.spark.graft.BenchInternals
      .drainListenerBus(s2.sparkContext)
    assert(lint.warnings.isEmpty)
  }

  test("filter-not-pushed treats an UNBALANCED PushedFilters " +
    "rendering as unknown instead of warning off a shifted count") {
    val dir = graft.TestSpark.tempDir("graft_lint_brkt")
    Seq(("(", 1), (")", 2)).toDF("s", "v")
      .write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    // EqualTo(s,() renders an unbalanced '(' with NO quoting, so the
    // comma before GreaterThan sits at depth 1 and the old count came
    // up one short — flipping filter-not-pushed to warn although all
    // four predicates pushed. Parse ambiguity now excludes the scan.
    assert(report(scan.filter($"s" === "(" && $"v" > 0))(
      "filter-not-pushed")._1 == "ok")
    // and an unpushable predicate under a BALANCED rendering still
    // warns — the unknown carve-out is per-scan, not rule-wide
    assert(report(scan.filter(length($"s") > 1 && $"v" > 0))(
      "filter-not-pushed") == (("warn", 1L)))
  }

  test("full-width-scan fires when a wide source is read at full " +
    "width and clears once a projection prunes it") {
    val dir = graft.TestSpark.tempDir("graft_lint_wide")
    spark.range(10).select((0 until 8).map(i =>
      ($"id" + i).as(s"c$i")): _*)
      .write.mode("overwrite").parquet(s"$dir/wide")
    val scan = spark.read.parquet(s"$dir/wide")
    // filter keeps every column in the output: full-width read
    assert(report(scan.filter($"c0" > 0L))("full-width-scan") ==
      (("warn", 1L)))
    // a 2-column projection prunes the ReadSchema: ok
    assert(report(scan.select("c0", "c1"))("full-width-scan")._1 == "ok")
    // narrower sources never fire at the default threshold
    val narrow = scan.select("c0", "c1", "c2")
      .write.mode("overwrite").parquet(s"$dir/narrow")
    assert(report(spark.read.parquet(s"$dir/narrow"))(
      "full-width-scan")._1 == "ok")
  }

  test("interpreted-stage fires on a CodegenFallback expression " +
    "(higher-order function) in a projection") {
    // literal Seqs constant-fold to LocalTableScan — a real relation
    // (range) keeps the projection in the plan
    val df = spark.range(3).select(array($"id".cast("double")).as("xs"))
      .select(aggregate($"xs", lit(0.0), (a, x) => a + x).as("s"))
    assert(report(df)("interpreted-stage")._1 == "warn")
    val clean = spark.range(3).select(($"id" + 1L).as("y"))
    assert(report(clean)("interpreted-stage")._1 == "ok")
  }

  test("scala-udf fires once per UDF call site") {
    val up = udf((s: String) => s.toUpperCase)
    val df = spark.range(2).select(up($"id".cast("string")).as("u"))
    assert(report(df)("scala-udf") == (("warn", 1L)))
  }

  test("lintFinal: broadcastable-join warns on the initial plan and " +
    "clears in the AQE-final plan after the runtime broadcast " +
    "conversion") {
    val base = graft.TestSpark.tempDir("graft_lint_final")
    // dim: plan-time estimate is the FILE size (CBO off, so the
    // selective filter does not shrink the estimate) — keep it above
    // the lowered broadcast threshold so the initial plan is a
    // sort-merge join; at runtime the filter leaves ONE row and AQE
    // converts the join to broadcast
    spark.range(20000)
      .select($"id" % 1000 as "k", concat(lit("v"), $"id") as "pad")
      .write.mode("overwrite").parquet(s"$base/dim")
    spark.range(5000).select($"id" % 1000 as "k", $"id" as "m")
      .write.mode("overwrite").parquet(s"$base/fact")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
      val dim = spark.read.parquet(s"$base/dim")
        .filter($"pad" === "v7").select($"k", $"pad")
      val fact = spark.read.parquet(s"$base/fact")
      val joined = fact.join(dim, "k").groupBy("pad").count()
      // initial adaptive plan: SMJ with a small-estimated side
      assert(report(joined)("broadcastable-join") == (("warn", 1L)))
      val fin = PlanLint.findingsFinal(joined)
        .map(f => f.rule -> ((f.status, f.n))).toMap
      // the same QueryExecution, post-run: AQE converted to a
      // broadcast join, so the rule clears
      assert(fin("broadcastable-join") == (("ok", 0L)))
      // reuse contract: the plan is final now; lintFinal re-walks it
      // without re-running (cheap second call, same report)
      assert(PlanLint.lintFinal(joined).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
        .apply("broadcastable-join") == "ok")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
