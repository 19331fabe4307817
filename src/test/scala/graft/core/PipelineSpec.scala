package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.{Transforms => T}

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stages apply in chain order (filter between transforms)") {
    val src = Seq(1, 2, 3, 4).toDF("v")
    // Double v, keep > 4, then add one — the filter must see DOUBLED
    // values (the reference would run both transforms first).
    val out = Pipeline.from(src)
      .transform(T.addField("v", col("v") * 2))
      .filter(col("v") > 4)
      .transform(T.addField("v", col("v") + 1))
      .build()
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(out == Seq(7, 9))
  }

  test("execute writes all sinks and reports output count") {
    val dir = TestSpark.tempDir("graft_pipe")
    val n = Pipeline.from(Seq((1, "a"), (2, "b")).toDF("id", "v"))
      .filter(col("id") > 0)
      .to(df => graft.sinks.Sinks.parquet(df, s"$dir/p"))
      .to(df => graft.sinks.Sinks.jsonl(df, s"$dir/j"))
      .execute()
    assert(n == 2)
    assert(spark.read.parquet(s"$dir/p").count() == 2)
    assert(spark.read.json(s"$dir/j").count() == 2)
  }

  test("error strategies map to source parse modes") {
    val dir = TestSpark.tempDir("graft_err")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "bad.json"),
      "{\"id\": 1}\nnot json at all\n{\"id\": 3}\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
    // SkipErrors drops the bad line
    val skipped = graft.sources.Sources.jsonl(spark, dir, Some(schema),
      mode = Pipeline.SkipErrors.sourceMode)
    assert(skipped.count() == 2)
    // CollectErrors keeps it in _corrupt_record (cache first — Spark
    // disallows queries touching only the internal corrupt column)
    val collected = graft.sources.Sources.jsonl(spark, dir, Some(schema),
      mode = Pipeline.CollectErrors.sourceMode).cache()
    assert(collected.filter(col("_corrupt_record").isNotNull).count() == 1)
    collected.unpersist()
    // FailFast throws on materialization
    intercept[Exception] {
      graft.sources.Sources.jsonl(spark, dir, Some(schema),
        mode = Pipeline.FailFast.sourceMode).count()
    }
  }

  test("transformChecked honors the error strategy; CollectErrors exposes the frame") {
    import org.apache.spark.sql.types.IntegerType
    def pipe = Pipeline.from(Seq(("1", "a"), ("bad", "b"), ("3", "c")).toDF("v", "tag"))
      .transformChecked(T.CheckedCast("v", IntegerType))
      .transform(T.addField("v2", col("v") * 10))
    // CollectErrors: good rows continue converted, bad row lands in the
    // error frame with its ORIGINAL value and a message
    val (n, errs) = pipe.withErrorStrategy(Pipeline.CollectErrors).executeCollecting()
    assert(n == 2)
    val e = errs.collect()
    assert(e.length == 1)
    assert(e(0).getString(0).contains("\"v\":\"bad\""))
    assert(e(0).getSeq[String](1).head.contains("cannot cast 'bad'"))
    // SkipErrors: dropped silently — strategy applied even though set
    // AFTER the checked stage was chained
    assert(pipe.withErrorStrategy(Pipeline.SkipErrors).execute() == 2)
    // FailFast (the default): the job raises
    intercept[Exception] { pipe.execute() }
    // no checked stage collected anything -> empty, schema-correct frame
    val (_, none) = Pipeline.from(Seq(1).toDF("x"))
      .withErrorStrategy(Pipeline.CollectErrors).executeCollecting()
    assert(none.columns.toSeq == Seq("record", "errors") && none.count() == 0)
    // buildWithErrors: the LAZY form — good plan plus the optional
    // error frame, no action taken until the caller materializes
    val (good, errOpt) = pipe.withErrorStrategy(Pipeline.CollectErrors)
      .buildWithErrors()
    assert(good.count() == 2 && errOpt.get.count() == 1)
    assert(pipe.withErrorStrategy(Pipeline.SkipErrors)
      .buildWithErrors()._2.isEmpty)
  }
}
