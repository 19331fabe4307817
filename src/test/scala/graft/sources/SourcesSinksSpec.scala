package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sinks.Sinks

class SourcesSinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = TestSpark.tempDir("graft_io")

  test("csv sink + source roundtrip with delimiter/header/null options") {
    val df = Seq((1L, Option("a|b"), Option(1.5)), (2L, None, None))
      .toDF("id", "s", "d")
    val dir = tmp()
    Sinks.csv(df, s"$dir/csv", header = true, delimiter = ";")
    val back = Sources.csv(spark, s"$dir/csv",
      Sources.CsvOptions(header = true, delimiter = ";"),
      schema = Some(df.schema))
    assert(TestSpark.rows(back) == TestSpark.rows(df))
  }

  test("jsonl sink + source roundtrip") {
    val df = Seq((1L, "x \"quoted\""), (2L, "y")).toDF("id", "s")
    val dir = tmp()
    Sinks.jsonl(df, s"$dir/j")
    val back = Sources.jsonl(spark, s"$dir/j", schema = Some(df.schema))
    assert(TestSpark.rows(back) == TestSpark.rows(df))
  }

  test("parquet source honors explicit projection") {
    val dir = tmp()
    Seq((1L, "a", 2.0)).toDF("x", "y", "z").write.parquet(s"$dir/p")
    val df = Sources.parquet(spark, s"$dir/p", columns = Seq("z", "x"))
    assert(df.columns.toSeq == Seq("z", "x"))
  }

  test("binaryFiles reads opaque payloads with path/length metadata") {
    val dir = tmp()
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "img1.bin"),
      Array[Byte](1, 2, 3, 4, 5))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "img2.bin"),
      Array[Byte](9, 8))
    val df = Sources.binaryFiles(spark, s"$dir/*.bin")
    assert(df.count() == 2)
    val r = df.orderBy("length").collect()
    assert(r(0).getAs[Long]("length") == 2L)
    assert(r(1).getAs[Array[Byte]]("content").toSeq == Seq[Byte](1, 2, 3, 4, 5))
  }

  test("csv comment option skips commented lines") {
    val dir = tmp()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "c.csv"),
      "id,v\n# a comment line\n1,x\n2,y\n")
    val df = Sources.csv(spark, dir,
      Sources.CsvOptions(header = true, comment = Some("#")))
    assert(df.count() == 2)
  }

  test("s3-style multi-object scan attaches file metadata columns") {
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "v").write.option("header", true).csv(s"$dir/obj1")
    val df = Sources.s3(spark, s"$dir/obj1", "csv",
      Sources.CsvOptions(header = true))
    assert(df.columns.contains("_file_name"))
    assert(df.columns.contains("_file_size"))
    val r = df.collect()(0)
    assert(r.getAs[String]("_file_name").nonEmpty)
    assert(r.getAs[Long]("_file_size") > 0)
  }

  test("JDBC roundtrip against embedded Derby: append write, table/query/partitioned reads, insert path of upsert") {
    val db = s"${tmp()}/graftdb"
    val url = s"jdbc:derby:$db;create=true"
    val df = (1L to 20L).map(i => (i, s"name$i")).toDF("id", "name")
    Sinks.jdbcAppend(df, url, "people")                      // Spark creates the table
    assert(Sources.jdbc(spark, url, "people").count() == 20)
    assert(Sources.jdbc(spark, url,
      """SELECT "id", "name" FROM people WHERE "id" <= 5""").count() == 5)
    val part = Sources.jdbc(spark, url, "people",
      partitioning = Some(Sources.JdbcPartitioning("id", 1, 20, 4)))
    assert(part.rdd.getNumPartitions == 4)
    assert(part.count() == 20)
    // ConflictError mode = plain INSERT — the foreachPartition batched
    // prepared-statement path, portable beyond Postgres.
    // upsertSql quotes identifiers; Spark created the table unquoted
    // (Derby folds to uppercase), so address it as "PEOPLE".
    val stats = Sinks.jdbcUpsert(
      Seq((21L, "extra")).toDF("id", "name"), url, "PEOPLE",
      Sinks.ConflictError, batchSize = 2)
    assert(Sources.jdbc(spark, url, "people").count() == 21)
    assert(stats == Sinks.UpsertStats(1, 0, 0, 0))
  }

  test("jdbcUpsert telemetry: error budget skips bad batches and counts them; breaker trips past it") {
    val db = s"${tmp()}/graftdb_budget"
    val url = s"jdbc:derby:$db;create=true"
    val stmts = java.sql.DriverManager.getConnection(url).createStatement()
    stmts.executeUpdate("""CREATE TABLE "uniq" ("id" BIGINT PRIMARY KEY, "name" VARCHAR(32))""")
    stmts.executeUpdate("""INSERT INTO "uniq" VALUES (2, 'already')""")
    // single partition => deterministic batch split: (1,2) fails on the
    // duplicate key, (3) succeeds
    val df = Seq((1L, "a"), (2L, "dup"), (3L, "c")).toDF("id", "name").coalesce(1)
    val stats = Sinks.jdbcUpsert(df, url, "uniq", Sinks.ConflictError,
      batchSize = 2, maxFailedBatchesPerPartition = 1)
    assert(stats.failedBatches == 1 && stats.failedRows == 2)
    assert(stats.inserted == 1 && stats.conflicted == 0)
    // the failed batch rolled back atomically: only row 3 (and the
    // pre-existing row 2) are present
    val ids = Sources.jdbc(spark, url, """SELECT "id" FROM "uniq"""")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(2L, 3L))
    // budget 0 (default): the same conflict propagates and fails the job
    intercept[org.apache.spark.SparkException] {
      Sinks.jdbcUpsert(Seq((2L, "dup")).toDF("id", "name").coalesce(1),
        url, "uniq", Sinks.ConflictError)
    }
  }

  test("jdbcUpsert executes ON CONFLICT for real against embedded DuckDB: DO NOTHING skips, DO UPDATE moves only the update set") {
    // DuckDB parses exactly the Postgres dialect upsertSql emits —
    // this is the path Derby (above) cannot execute. The anchor
    // connection pins the in-process database instance across steps
    // (same rationale as the q104 gate: per-step connections can race
    // the instance's async shutdown between close and next open).
    val url = s"jdbc:duckdb:${tmp()}/graft_duck.db"
    val anchor = java.sql.DriverManager.getConnection(url)
    try {
    Sinks.jdbcCreateTable(url, "kv", "id BIGINT, name VARCHAR, score DOUBLE",
      primaryKey = Seq("id"), replace = true)
    val seed = Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("id", "name", "score").coalesce(1)
    Sinks.jdbcAppend(seed, url, "kv", mode = "append")
    // DO NOTHING: every row conflicts, nothing changes, telemetry sees it
    val ig = Sinks.jdbcUpsert(
      Seq((1L, "A", 9.0), (2L, "B", 9.0)).toDF("id", "name", "score").coalesce(1),
      url, "kv", Sinks.ConflictIgnore(Seq("id")))
    assert(ig.inserted == 0 && ig.conflicted == 2 && ig.failedRows == 0)
    // DO UPDATE listing only `score`: existing ids move score but KEEP
    // their seeded name; the new id inserts both columns
    val up = Sinks.jdbcUpsert(
      Seq((1L, "X", 10.0), (2L, "Y", 20.0), (3L, "c", 3.0))
        .toDF("id", "name", "score").coalesce(1),
      url, "kv", Sinks.ConflictUpdate(Seq("id"), Seq("score")))
    assert(up.failedRows == 0 && up.failedBatches == 0)
    val back = Sources.jdbc(spark, url, "kv").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(back == Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 3.0)))
    // ConflictError (plain INSERT) hits the PK for real and propagates
    intercept[org.apache.spark.SparkException] {
      Sinks.jdbcUpsert(
        Seq((1L, "dup", 0.0)).toDF("id", "name", "score").coalesce(1),
        url, "kv", Sinks.ConflictError)
    }
    } finally anchor.close()
  }

  test("interpretBatchCounts: conflicts, SUCCESS_NO_INFO inserts, EXECUTE_FAILED failures") {
    assert(Sinks.interpretBatchCounts(Array(1, 0, 1, 0, 0)) == (2L, 3L, 0L))
    assert(Sinks.interpretBatchCounts(
      Array(java.sql.Statement.SUCCESS_NO_INFO, 1)) == (2L, 0L, 0L))
    // a continue-on-error driver's EXECUTE_FAILED must not count as
    // an insert
    assert(Sinks.interpretBatchCounts(
      Array(java.sql.Statement.EXECUTE_FAILED, 1, 0)) == (1L, 1L, 1L))
    assert(Sinks.interpretBatchCounts(Array.empty[Int]) == (0L, 0L, 0L))
  }

  test("jdbcAppend truncate overwrite keeps the table, replaces the rows") {
    val db = s"${tmp()}/graftdb_trunc"
    val url = s"jdbc:derby:$db;create=true"
    Sinks.jdbcAppend((1L to 5L).map(i => (i, s"n$i")).toDF("id", "name"), url, "t1")
    // truncate-overwrite: TRUNCATE + INSERT instead of DROP + CREATE
    Sinks.jdbcAppend((6L to 8L).map(i => (i, s"n$i")).toDF("id", "name"), url, "t1",
      mode = "overwrite", truncate = true)
    val out = Sources.jdbc(spark, url, "t1").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(6L, 7L, 8L))
  }

  test("csv sink honors explicit field order and CRLF line endings") {
    val dir = s"${tmp()}/csv_order"
    Sinks.csv(Seq((1L, "x")).toDF("id", "name"), dir,
      columns = Seq("name", "id"), crlf = true)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val text = new String(bytes, "UTF-8")
    assert(text.startsWith("name,id\r\n"))
    assert(text.contains("x,1\r\n"))
  }

  test("parquet sink row-group size knob produces multiple row groups") {
    val dir = s"${tmp()}/pq_rg"
    val df = (1 to 20000).map(i => (i.toLong, s"payload_$i" * 10)).toDF("id", "payload")
    Sinks.parquet(df.coalesce(1), dir, rowGroupBytes = Some(64 * 1024))
    val reread = spark.read.parquet(dir)
    assert(reread.count() == 20000)
    // tiny row groups → Spark's split planning still sees ONE file; check
    // the footer via the parquet tools on the classpath instead
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getAbsolutePath), new org.apache.hadoop.conf.Configuration()))
    try assert(rdr.getFooter.getBlocks.size() > 1) // default 128MB would give 1
    finally rdr.close()
  }

  test("mongo facade maps reference reader options; fails clearly without connector") {
    val opts = Sources.mongoOptions("mongodb://h:27017", "db1", "coll1",
      pipeline = Some("""[{"$match":{"lang":"en"}}]"""),
      readPreference = Some("secondaryPreferred"),
      extra = Map("sampleSize" -> "500"))
    assert(opts("connection.uri") == "mongodb://h:27017")
    assert(opts("database") == "db1" && opts("collection") == "coll1")
    assert(opts("aggregation.pipeline").contains("$match"))
    assert(opts("readPreference.name") == "secondaryPreferred")
    assert(opts("sampleSize") == "500")
    intercept[IllegalArgumentException] {
      Sources.mongoOptions("http://not-mongo", "db", "c")
    }
    // no connector jar in this environment → clear failure, not a
    // bare class-not-found from deep inside the DataSource registry
    val e = intercept[IllegalStateException] {
      Sources.mongo(spark, "mongodb://h:27017", "db1", "coll1")
    }
    assert(e.getMessage.contains("mongo-spark-connector"))
    // the change-stream facade honors the same contract
    val e2 = intercept[IllegalStateException] {
      Sources.mongoChangeStream(spark, "mongodb://h:27017", "db1", "coll1")
    }
    assert(e2.getMessage.contains("mongo-spark-connector"))
  }

  test("upsertSql generates postgres ON CONFLICT statements and validates identifiers") {
    assert(Sinks.upsertSql("t", Seq("a", "b"), Sinks.ConflictError) ==
      """INSERT INTO "t" ("a", "b") VALUES (?, ?)""")
    assert(Sinks.upsertSql("t", Seq("a", "b"), Sinks.ConflictIgnore(Seq("a"))) ==
      """INSERT INTO "t" ("a", "b") VALUES (?, ?) ON CONFLICT ("a") DO NOTHING""")
    assert(Sinks.upsertSql("t", Seq("a", "b"),
      Sinks.ConflictUpdate(Seq("a"), Seq("b"))) ==
      """INSERT INTO "t" ("a", "b") VALUES (?, ?) ON CONFLICT ("a") DO UPDATE SET "b" = EXCLUDED."b"""")
    intercept[IllegalArgumentException] {
      Sinks.upsertSql("t; DROP TABLE x", Seq("a"), Sinks.ConflictError)
    }
    intercept[IllegalArgumentException] {
      Sinks.upsertSql("t", Seq("a\"b"), Sinks.ConflictError)
    }
  }

  test("parquet maxRecordsPerFile splits shards; sortWithin orders rows in-file") {
    val spark2 = spark
    import spark2.implicits._
    val dir = TestSpark.tempDir("graft_shard")
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(1)
    Sinks.parquet(df, s"$dir/out", maxRecordsPerFile = Some(25L),
      sortWithin = Seq("id"))
    val files = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4, s"expected 4 shards of <=25, got ${files.length}")
    // rows inside one shard file are id-sorted
    val one = spark.read.parquet(files(0).getAbsolutePath).select("id")
      .collect().map(_.getLong(0)).toSeq
    assert(one == one.sorted)
    assert(spark.read.parquet(s"$dir/out").count() == 100)
  }

  test("orc and text roundtrips preserve rows; binaryFiles reads file bytes") {
    val spark2 = spark
    import spark2.implicits._
    val dir = TestSpark.tempDir("graft_fmt")
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "s")
    Sinks.orc(df, s"$dir/orc")
    assert(graft.TestSpark.rows(Sources.orc(spark, s"$dir/orc")) ==
      graft.TestSpark.rows(df))
    Sinks.text(df.select("s"), s"$dir/txt", compression = "gzip")
    assert(Sources.text(spark, s"$dir/txt").as[String].collect().toSet ==
      Set("alpha", "beta"))
    // binaryFile source: one record per file, exact bytes
    val f = java.nio.file.Paths.get(dir, "blob.bin")
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3, 4))
    val bf = Sources.binaryFiles(spark, dir, pathGlobFilter = Some("*.bin"))
      .select("length", "content").collect()
    assert(bf.length == 1 && bf(0).getLong(0) == 4L &&
      bf(0).getAs[Array[Byte]](1).toSeq == Seq[Byte](1, 2, 3, 4))
  }

  test("xml roundtrip preserves markup-significant characters and explicit types") {
    val dir = s"${tmp()}/xml_rt"
    val df = Seq((1L, "a & b <tag> \"q\""), (2L, "  padded  ")).toDF("id", "payload")
    Sinks.xml(df, dir, rowTag = "rec", compression = "gzip")
    val back = Sources.xml(spark, dir, rowTag = "rec",
      schemaDdl = Some("id BIGINT, payload STRING"))
    assert(back.schema("id").dataType == org.apache.spark.sql.types.LongType)
    val rows = back.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // surrounding whitespace must survive (the reader DEFAULT trims it)
    assert(rows == Set((1L, "a & b <tag> \"q\""), (2L, "  padded  ")))
  }

  test("parquetZOrdered: content roundtrips; files cover compact ranges in BOTH dims") {
    import spark.implicits._
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val zDir = TestSpark.tempDir("graft_zorder_spec")
    val rDir = TestSpark.tempDir("graft_zorder_spec_rand")
    Sinks.parquetZOrdered(orders, zDir,
      Seq("o_custkey", "o_totalprice"), files = 8)
    orders.repartition(8).write.mode("overwrite").parquet(rDir)
    val back = spark.read.parquet(zDir)
    assert(back.collect().toSet == orders.collect().toSet) // layout-only change
    // per-file span of each dimension, summed: the z layout confines
    // every file to a narrow window in BOTH columns at once, where a
    // hash layout spreads each file over nearly the full range
    def spanSum(dir: String, c: String): Double =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg((max(col(c)) - min(col(c))).cast("double").as("span"))
        .agg(sum("span")).head().getDouble(0)
    for (c <- Seq("o_custkey", "o_totalprice")) {
      val (zSpan, rSpan) = (spanSum(zDir, c), spanSum(rDir, c))
      assert(zSpan < 0.75 * rSpan,
        s"$c: z-order span $zSpan not narrower than random $rSpan")
    }
  }

  test("parquetZOrdered: nulls and constant columns bucket safely; non-numeric rejected") {
    import spark.implicits._
    val df = Seq((1L, Some(2.0), 7L), (2L, None, 7L), (3L, Some(9.0), 7L))
      .toDF("id", "v", "c")
    val dir = TestSpark.tempDir("graft_zorder_nulls")
    Sinks.parquetZOrdered(df, dir, Seq("v", "c"), files = 2)
    assert(spark.read.parquet(dir).collect().toSet == df.collect().toSet)
    intercept[IllegalArgumentException](
      Sinks.parquetZOrdered(df.withColumn("s", lit("x")), dir, Seq("s"), 2))
  }

  test("fixedWidth: positional slices, trims, blank numerics null") {
    import graft.sources.Sources
    val dir = TestSpark.tempDir("graft_fw")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/data.txt"),
      "  1ALGERIA                   0  \n" +
        "  2padded name             1  \n" +
        "    blank key               2  \n")
    val out = Sources.fixedWidth(spark, dir, Seq(
      Sources.FixedWidthCol("k", 1, 3, "long"),
      Sources.FixedWidthCol("name", 4, 24),
      Sources.FixedWidthCol("r", 28, 3, "long")))
      .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    assert(out == Set(
      (Some(1L), "ALGERIA", Some(0L)),
      (Some(2L), "padded name", Some(1L)),
      (None, "blank key", Some(2L)))) // blank numeric field -> null
  }
}
