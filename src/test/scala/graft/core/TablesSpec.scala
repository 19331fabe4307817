package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.ParquetOutputFormat.JobSummaryLevel
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.MetadataBuilder
import org.scalatest.funsuite.AnyFunSuite

/** [[Parquet.read]] against Spark's own schema-inferring read: on every
 *  layout the two frames agree in schema (nullability and metadata
 *  included), rows and optimized plan, the driver footer read starts no
 *  job where Spark's inference starts one, and `mergeSchema` keeps
 *  Spark's read. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val benchData = new java.io.File("perfbench/data").getAbsolutePath

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("bytes(", ",", ")")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  private def plan(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+L?", "#x")

  /** Our frame equals Spark's inferred one, and only Spark's starts a
   *  job. Returns our frame's schema field names. */
  private def assertSame(path: String): Seq[String] = {
    var ours: DataFrame = null
    var theirs: DataFrame = null
    val (ourJobs, _) = TestSpark.jobsDuring { ours = Parquet.read(spark, path) }
    val (theirJobs, _) = TestSpark.jobsDuring { theirs = spark.read.parquet(path) }
    assert(ourJobs == 0, s"$path: the footer read started $ourJobs jobs")
    assert(theirJobs >= 1, s"$path: Spark's inference started no job")
    assert(ours.schema == theirs.schema, path)
    assert(rowsOf(ours) == rowsOf(theirs), path)
    assert(plan(ours) == plan(theirs), path)
    ours.schema.fieldNames.toSeq
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Spark writes `df` as one file; the file moves to `to`. */
  private def writeOne(df: DataFrame, to: String): Unit = {
    val tmp = TestSpark.tempDir("graft-tables-one")
    df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
    val part = new java.io.File(s"$tmp/out").listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(to).getParent)
    Files.move(part.toPath, Paths.get(to), StandardCopyOption.REPLACE_EXISTING)
  }

  /** A file written by parquet-mr itself: no Spark row metadata, so the
   *  schema comes from converting the parquet types. */
  private def writeRaw(path: String, schemaText: String)(
      fill: SimpleGroupFactory => Seq[org.apache.parquet.example.data.Group]): Unit = {
    val schema = MessageTypeParser.parseMessageType(schemaText)
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(path), conf))
      .withType(schema).withConf(conf).build()
    try fill(new SimpleGroupFactory(schema)).foreach(w.write) finally w.close()
  }

  test("a 4-file DuckDB-written directory reads like Spark's inferred read") {
    val dir = TestSpark.tempDir("graft-tables-duck")
    val conn = java.sql.DriverManager.getConnection("jdbc:duckdb:")
    try {
      val st = conn.createStatement()
      (0 until 4).foreach { i =>
        st.execute(
          s"""COPY (SELECT * FROM read_parquet('$benchData/lineitem.parquet')
             |WHERE l_orderkey % 4 = $i) TO '$dir/part-$i.parquet' (FORMAT PARQUET)""".stripMargin)
      }
    } finally conn.close()
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) == 4)
    assert(assertSame(dir).contains("l_orderkey"))
  }

  test("a single file, and the events table under both timestamp-NTZ settings") {
    assertSame(s"$benchData/customer.parquet")
    for (ntz <- Seq("true", "false"))
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> ntz) {
        assertSame(s"$benchData/events.parquet")
      }
  }

  test("a Spark-written file keeps the row-metadata schema (field metadata)") {
    val dir = TestSpark.tempDir("graft-tables-meta")
    val meta = new MetadataBuilder().putString("comment", "order total").build()
    writeOne(Seq((1L, 2.5, "a"), (2L, 3.5, "b")).toDF("k", "v", "s")
      .select(col("k"), col("v").as("v", meta), col("s")), s"$dir/t/part-0.parquet")
    assertSame(s"$dir/t")
    assert(Parquet.read(spark, s"$dir/t").schema("v").metadata.getString("comment") == "order total")
  }

  test("a hive-partitioned directory") {
    val dir = TestSpark.tempDir("graft-tables-part")
    (1 to 30).map(i => (i, i % 3, s"s$i")).toDF("id", "k", "s")
      .write.partitionBy("k").parquet(s"$dir/t")
    assert(assertSame(s"$dir/t") == Seq("id", "s", "k"))
  }

  test("summary files win over data files: _common_metadata, then _metadata") {
    val dir = TestSpark.tempDir("graft-tables-summary")
    val conf = spark.sparkContext.hadoopConfiguration
    // a directory whose summary files carry `df`'s schema
    def summarized(name: String, df: DataFrame): String = {
      writeOne(df, s"$dir/$name/part-0.parquet")
      val file = new Path(s"$dir/$name/part-0.parquet")
      val footer = new Footer(file,
        ParquetFileReader.readFooter(conf, file, ParquetMetadataConverter.NO_FILTER))
      ParquetFileWriter.writeMetadataFile(conf, new Path(s"$dir/$name"), Seq(footer).asJava,
        JobSummaryLevel.ALL)
      s"$dir/$name"
    }
    val common = summarized("ab", Seq((1, "x")).toDF("a", "b"))
    val meta = summarized("ac", Seq((1, 2.0)).toDF("a", "c"))
    val t = s"$dir/t"
    writeOne(Seq(7, 8).toDF("a"), s"$t/part-0.parquet")
    Files.copy(Paths.get(s"$common/_common_metadata"), Paths.get(s"$t/_common_metadata"))
    Files.copy(Paths.get(s"$meta/_metadata"), Paths.get(s"$t/_metadata"))
    assert(assertSame(t) == Seq("a", "b"))
    Files.delete(Paths.get(s"$t/_common_metadata"))
    assert(assertSame(t) == Seq("a", "c"))
  }

  test("TIMESTAMP(NANOS) under nanosAsLong, INT96 and unannotated binary") {
    val dir = TestSpark.tempDir("graft-tables-raw")
    writeRaw(s"$dir/nanos.parquet",
      """message events {
        |  required int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional binary event_type (STRING);
        |}""".stripMargin) { g =>
      (1 to 5).map(i => g.newGroup().append("event_id", i.toLong)
        .append("ts", 1700000000123456789L + i).append("event_type", s"e$i"))
    }
    writeRaw(s"$dir/int96.parquet",
      """message legacy {
        |  required int32 id;
        |  optional int96 t96;
        |  optional binary raw;
        |}""".stripMargin) { g =>
      (1 to 5).map(i => g.newGroup().append("id", i)
        .append("t96", new NanoTime(2460000 + i, 3600L * 1000000000L * i))
        .append("raw", Binary.fromString(s"r$i")))
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assertSame(s"$dir/nanos.parquet")
      assert(Parquet.read(spark, s"$dir/nanos.parquet").schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
    }
    for (asString <- Seq("false", "true"))
      withConf("spark.sql.parquet.binaryAsString" -> asString) {
        assertSame(s"$dir/int96.parquet")
      }
    assert(Parquet.read(spark, s"$dir/int96.parquet").schema("t96").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("files with different schemas: the first by path wins, as in Spark; " +
    "spark.sql.parquet.mergeSchema keeps Spark's distributed read") {
    val dir = TestSpark.tempDir("graft-tables-two")
    val t = s"$dir/t"
    // written in the opposite order to the path order
    writeOne(Seq((2, 2.5)).toDF("id", "y"), s"$t/part-b.parquet")
    writeOne(Seq((1, "x")).toDF("id", "x"), s"$t/part-a.parquet")
    assert(assertSame(t) == Seq("id", "x"))

    val merged = spark.read.option("mergeSchema", "true").parquet(t)
    assert(merged.schema.fieldNames.toSeq == Seq("id", "x", "y"))
    val (jobs, _) = withConf("spark.sql.parquet.mergeSchema" -> "true") {
      TestSpark.jobsDuring(assert(Parquet.read(spark, t).schema == merged.schema))
    }
    assert(jobs >= 1, s"the mergeSchema read started $jobs jobs")
  }

  test("an empty directory and a missing path fail with Spark's error") {
    val dir = TestSpark.tempDir("graft-tables-empty")
    Files.createDirectories(Paths.get(s"$dir/empty"))
    for ((p, condition) <- Seq(s"$dir/empty" -> "UNABLE_TO_INFER_SCHEMA",
                               s"$dir/missing" -> "PATH_NOT_FOUND")) {
      val ours = intercept[AnalysisException](Parquet.read(spark, p))
      val theirs = intercept[AnalysisException](spark.read.parquet(p))
      assert(theirs.getCondition == condition, p)
      assert(ours.getCondition == condition, p)
    }
  }

  test("Tables.apply and Tables.rawSchema start no Spark job; " +
    "a mergeSchema read of the same table starts one") {
    val reads = Seq[(String, () => Any)](
      "apply(lineitem)" -> (() => Tables(spark, benchData, "lineitem")),
      "apply(events)" -> (() => Tables(spark, benchData, "events")),
      "rawSchema(events)" -> (() => Tables.rawSchema(spark, benchData, "events")))
    for ((name, read) <- reads) {
      val (jobs, _) = TestSpark.jobsDuring(read())
      assert(jobs == 0, s"$name started $jobs jobs")
    }
    val (control, _) = withConf("spark.sql.parquet.mergeSchema" -> "true") {
      TestSpark.jobsDuring(Tables(spark, benchData, "lineitem"))
    }
    assert(control >= 1, s"mergeSchema read started $control jobs")
  }
}
