package graft.core

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Pins for [[Par.spread]]'s leaf-class decisions (r20 hardening —
 *  r19 verdict #4 / advice #2): a checkpointed frame that is ALREADY
 *  well-partitioned must NOT be reshuffled (at cluster scale that was
 *  a full shuffle of a possibly-huge intermediate for nothing), while
 *  the two regression classes the helper exists for — single-partition
 *  checkpoints and driver-built single-partition relations — must
 *  still spread. */
class ParSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def target = spark.sparkContext.defaultParallelism

  test("well-partitioned checkpointed frame is NOT reshuffled") {
    val df = (1 to 1000).toDF("x").repartition(target)
      .localCheckpoint(false)
    assert(df.rdd.getNumPartitions >= target)
    val out = Par.spread(df)
    // no repartition inserted: the optimized plan has no exchange and
    // the output partitioning is the checkpoint's own
    assert(out.queryExecution.optimizedPlan
      .collect { case r: org.apache.spark.sql.catalyst.plans.logical
        .Repartition => r }.isEmpty,
      "spread must be a no-op on a well-partitioned checkpoint")
    assert(out.collect().map(_.getInt(0)).sorted.toSeq == (1 to 1000))
  }

  test("single-partition checkpointed frame IS spread") {
    val df = (1 to 1000).toDF("x").coalesce(1).localCheckpoint(false)
    assert(df.rdd.getNumPartitions == 1)
    val out = Par.spread(df)
    assert(out.rdd.getNumPartitions == target,
      "spread must repartition a 1-partition checkpoint")
    assert(out.collect().map(_.getInt(0)).sorted.toSeq == (1 to 1000))
  }

  test("small driver-built relation IS spread (sentinel-stat leaf class)") {
    // a driver-built local relation is the routinely-single-partition
    // input class the helper exists for
    val df = spark.createDataFrame(
      java.util.Arrays.asList((1 to 100).map(i =>
        org.apache.spark.sql.Row(i)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.IntegerType))))
    val out = Par.spread(df)
    assert(out.rdd.getNumPartitions == target)
    assert(out.collect().map(_.getInt(0)).sorted.toSeq == (1 to 100))
  }

  test("small file scan IS spread; streaming frame passes through") {
    val tmp = TestSpark.tempDir("graft_parspec")
    (1 to 1000).toDF("x").coalesce(1).write.parquet(s"$tmp/t")
    val scan = spark.read.parquet(s"$tmp/t")
    val out = Par.spread(scan)
    assert(out.rdd.getNumPartitions == target,
      "a tiny single-file scan cannot split to target — must spread")
    assert(out.collect().map(_.getInt(0)).sorted.toSeq == (1 to 1000))
  }

  test("well-partitioned checkpoint joined with a tiny single-split scan " +
    "IS spread (mixed leaves take the file-scan byte test)") {
    val tmp = TestSpark.tempDir("graft_parspec_mixed")
    (1 to 1000).map(x => (x, x % 7)).toDF("x", "g").coalesce(1)
      .write.parquet(s"$tmp/t")
    val ck = (1 to 1000).toDF("x").repartition(target).localCheckpoint(false)
    assert(ck.rdd.getNumPartitions >= target)
    val joined = ck.join(spark.read.parquet(s"$tmp/t"), "x")
    val out = Par.spread(joined)
    assert(out.queryExecution.optimizedPlan
      .collect { case r: org.apache.spark.sql.catalyst.plans.logical
        .Repartition => r.numPartitions }.contains(target),
      "a tiny single-split scan beside a well-partitioned checkpoint " +
        "must spread")
    assert(out.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq ==
      (1 to 1000).map(x => (x, x % 7)))
  }
}
