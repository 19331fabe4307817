package graft.core

import graft.TestSpark
import graft.streaming.Streaming
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, max}
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the session defaults that keep whole-stage codegen warm
 *  across micro-batch queries (see [[Engine.configure]]): a streaming
 *  query runs in a cloned session, and with Spark's default artifact
 *  isolation each clone gets its own classloader, so every re-run of
 *  an unchanged query compiled all of its classes again. */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("Engine.local sessions turn artifact isolation off and size the " +
    "codegen cache for the working set") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "512")
  }

  test("re-running a stateful micro-batch query compiles no new classes " +
    "and gives the same result") {
    val dir = java.nio.file.Files.createTempDirectory("graft_engine_warm")
      .toString
    Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
    Seq(("b", 4L), ("c", 5L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    // fresh checkpoint and output dirs per run: each run is a new query
    def run(tag: String): Map[String, Long] =
      Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
        df => Streaming.runningCount(df.as[(String, Long)]).toDF(),
        dir = s"$dir/$tag", statePartitions = Some(2),
        sourceOptions = Map("maxFilesPerTrigger" -> "1"))
        .groupBy("key").agg(max(col("count")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val first = run("run1")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = run("run2")
    val added = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
    assert(first == Map("a" -> 4L, "b" -> 6L, "c" -> 5L))
    assert(second == first)
    assert(added == 0, s"the second run compiled $added classes")
  }
}
