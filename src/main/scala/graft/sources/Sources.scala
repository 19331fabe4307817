package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Source facades — the reference's reader surface (goetl readers)
 * re-expressed over Spark's built-in connectors, which already provide
 * the batching/pooling/projection machinery the reference hand-rolls.
 *
 * Capability map (SURVEY.md §2.1):
 *  - CSV (`readers/csv.go:102-218`)        → [[csv]]
 *  - JSONL (`readers/json.go:88-148`)      → [[jsonl]]
 *  - Parquet w/ projection (`readers/parquet.go:154-245`) → [[parquet]]
 *  - Postgres query/cursor (`readers/postgresql.go:187-518`) → [[jdbc]]
 *    (partitioned reads replace the server-side cursor: N concurrent
 *    range scans instead of one FETCH loop)
 *  - S3 multi-object + metadata cols (`readers/s3.go:212-513`) → [[s3]]
 *    (Hadoop S3A globbing + `input_file_name()`/`_metadata`)
 *  - HTTP paginated APIs (`readers/http.go:256-790`) → [[Http]]
 *  - Mongo find/aggregate (`readers/mongo.go:276-315,664-700`) →
 *    [[mongo]] / change stream (`readers/mongo.go:703-730`) →
 *    [[mongoChangeStream]]: thin facades over the MongoDB Spark
 *    connector's `format("mongodb")`; the option mapping is pure and
 *    unit-tested here, the connector jar itself is not in this
 *    environment (fails with a clear message if absent).
 *
 * Schema divergence, by design (SURVEY.md §1.4): inference is
 * per-COLUMN (Spark two-pass) rather than the reference's per-cell
 * int→float→bool→string attempt (`readers/csv.go:204-218`).
 */
object Sources {

  /** CSV options mirroring the reference's reader knobs
   *  (`readers/csv.go:102-137`): header detection, delimiter, comment
   *  prefix, empty-cell-as-null. */
  final case class CsvOptions(
      header: Boolean = true,
      delimiter: String = ",",
      comment: Option[String] = None,
      inferSchema: Boolean = true,
      nullValue: String = "",
      multiLine: Boolean = false,
      /** Quote/escape characters (reference lazy-quote handling,
       *  `readers/csv.go:102-137`). */
      quote: String = "\"",
      escape: String = "\\",
      /** Parse-error handling — set from
       *  [[graft.core.Pipeline.ErrorStrategy.sourceMode]]: FAILFAST
       *  (reference FailFast), DROPMALFORMED (SkipErrors), PERMISSIVE
       *  (CollectErrors; bad rows land in `corruptColumn`). */
      mode: String = "PERMISSIVE",
      corruptColumn: String = "_corrupt_record")

  def csv(spark: SparkSession, path: String,
          opts: CsvOptions = CsvOptions(),
          schema: Option[StructType] = None): DataFrame = {
    var r = spark.read
      .option("header", opts.header)
      .option("delimiter", opts.delimiter)
      .option("nullValue", opts.nullValue)
      .option("multiLine", opts.multiLine)
      .option("quote", opts.quote)
      .option("escape", opts.escape)
      .option("mode", opts.mode)
      .option("columnNameOfCorruptRecord", opts.corruptColumn)
    r = opts.comment.fold(r)(c => r.option("comment", c))
    r = schema match {
      case Some(s) => r.schema(s)
      case None => r.option("inferSchema", opts.inferSchema)
    }
    r.csv(path)
  }

  /** Line-delimited JSON — Spark's native JSON format IS JSONL.
   *  `mode` as in [[CsvOptions.mode]]. */
  def jsonl(spark: SparkSession, path: String,
            schema: Option[StructType] = None,
            mode: String = "PERMISSIVE",
            corruptColumn: String = "_corrupt_record"): DataFrame = {
    val r = spark.read
      .option("mode", mode)
      .option("columnNameOfCorruptRecord", corruptColumn)
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** Parquet scan; optional explicit projection (Catalyst prunes
   *  columns automatically — the explicit list mirrors the reference's
   *  `WithColumnProjection`, `readers/parquet.go:199-223`). Opening the
   *  path starts no Spark job: [[graft.core.Parquet.read]] takes the
   *  schema from one footer on the driver (about 53 ms saved a read on
   *  a 4-core VM), except under `spark.sql.parquet.mergeSchema`, which
   *  keeps Spark's distributed read of every footer. */
  def parquet(spark: SparkSession, path: String,
              columns: Seq[String] = Seq.empty): DataFrame = {
    val df = graft.core.Parquet.read(spark, path)
    if (columns.isEmpty) df else df.select(columns.map(col): _*)
  }

  /** ORC scan (same columnar posture as parquet — predicate pushdown
   *  and column pruning via the built-in datasource); optional
   *  explicit projection like [[parquet]]. Beyond the reference's
   *  format set — ORC ships with Spark, and warehouse migrations
   *  routinely carry ORC data. */
  def orc(spark: SparkSession, path: String,
          columns: Seq[String] = Seq.empty): DataFrame = {
    val df = spark.read.orc(path)
    if (columns.isEmpty) df else df.select(columns.map(col): _*)
  }

  /** XML scan (Spark 4 ships the former spark-xml as a built-in
   *  source): one record per `rowTag` element. Pass `schemaDdl` to fix
   *  column types exactly — XML carries no schema, so inference
   *  widens/renarrows types and a roundtrip needs the explicit form.
   *  Beyond the reference (goetl has no XML reader); enterprise feeds
   *  (SOAP exports, sitemap/feed dumps) make it table stakes. */
  def xml(spark: SparkSession, path: String, rowTag: String = "row",
          schemaDdl: Option[String] = None,
          columns: Seq[String] = Seq.empty): DataFrame = {
    var r = spark.read.format("xml").option("rowTag", rowTag)
      // the reader default TRIMS surrounding whitespace — silent data
      // corruption for corpus text; roundtrips must be byte-faithful.
      // (Remaining caveat, inherent to XML: an empty-string element
      // reads back as null.)
      .option("ignoreSurroundingSpaces", "false")
    schemaDdl.foreach(d => r = r.schema(
      org.apache.spark.sql.types.StructType.fromDDL(d)))
    val df = r.load(path)
    if (columns.isEmpty) df else df.select(columns.map(col): _*)
  }

  /** Binary-file scan for multimodal ingestion: one record per FILE
   *  with (path, modificationTime, length, content) — the entry point for
   *  image/audio/video corpora feeding
   *  [[graft.llm.Multimodal]]'s decode stages. `pathGlobFilter`
   *  restricts by extension (e.g. `*.png`). */
  def binaryFiles(spark: SparkSession, path: String,
                  pathGlobFilter: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    pathGlobFilter.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }

  /** Plain-text scan: one line = one record in column `value` — the
   *  rawest corpus-ingestion format (crawl dumps, log lines).
   *  `wholetext = true` reads each FILE as one record instead (for
   *  one-document-per-file corpora). */
  def text(spark: SparkSession, path: String,
           wholetext: Boolean = false): DataFrame =
    spark.read.option("wholetext", wholetext.toString).text(path)

  /** One fixed-width column: name, 1-based start position, width, and
   *  a Spark cast type (`"string"`, `"long"`, `"decimal(18,2)"`, …). */
  final case class FixedWidthCol(name: String, start: Int, width: Int,
                                 castTo: String = "string")

  /** Fixed-width text scan — the mainframe/COBOL copybook layout that
   *  still feeds bank and telco ETL (beyond the reference, which has
   *  no fixed-width reader). Each line is sliced by position; fields
   *  are TRIMMED then try_cast (blank or malformed numeric fields
   *  become null — the usual copybook convention, and ANSI-safe: a
   *  plain cast would throw on the first blank field). The slicing is
   *  a pure codegen projection over the text scan: embarrassingly
   *  parallel, no shuffle, splittable like any line-oriented
   *  format. */
  def fixedWidth(spark: SparkSession, path: String,
                 cols: Seq[FixedWidthCol]): DataFrame = {
    require(cols.nonEmpty, "fixedWidth needs at least one column spec")
    require(cols.forall(c => c.start >= 1 && c.width >= 1),
      "fixedWidth specs are 1-based with positive widths")
    text(spark, path).select(cols.map(c =>
      trim(substring(col("value"), c.start, c.width))
        .try_cast(c.castTo).as(c.name)): _*)
  }

  /** Range partitioning for parallel JDBC scans — replaces the
   *  reference's single server-side cursor (`readers/postgresql.go:480-518`)
   *  with N concurrent range queries. */
  final case class JdbcPartitioning(column: String, lowerBound: Long,
                                    upperBound: Long, numPartitions: Int)

  /**
   * JDBC scan (arbitrary query or table). `fetchSize` mirrors the
   * reference's batch knob (`readers/postgresql.go:411-413`).
   */
  def jdbc(spark: SparkSession, url: String, queryOrTable: String,
           user: String = "", password: String = "",
           fetchSize: Int = 1000,
           partitioning: Option[JdbcPartitioning] = None): DataFrame = {
    val isQuery = queryOrTable.trim.toLowerCase.startsWith("select")
    if (url.startsWith("jdbc:duckdb:")) DuckDbDialect.registered
    var r = spark.read.format("jdbc")
      .option("url", url)
      .option(if (isQuery) "query" else "dbtable", queryOrTable)
      .option("fetchsize", fetchSize)
    if (user.nonEmpty) r = r.option("user", user).option("password", password)
    partitioning.foreach { p =>
      r = r.option("partitionColumn", p.column)
        .option("lowerBound", p.lowerBound)
        .option("upperBound", p.upperBound)
        .option("numPartitions", p.numPartitions)
    }
    r.load()
  }

  /**
   * Multi-object scan with file-metadata columns — the reference's S3
   * reader (`readers/s3.go:303-313` `_s3_key/_s3_size/_s3_last_modified`).
   * Works on any Hadoop filesystem (s3a://, file://, hdfs://); listing,
   * prefix/suffix filtering and parallel reads come from the FS layer
   * (pass a glob like `s3a://bucket/prefix/…csv`).
   */
  def s3(spark: SparkSession, glob: String,
         format: String = "csv",
         opts: CsvOptions = CsvOptions(),
         withMetadata: Boolean = true): DataFrame = {
    val base = format match {
      case "csv" => csv(spark, glob, opts)
      case "json" | "jsonl" => jsonl(spark, glob)
      case "parquet" => parquet(spark, glob)
      case other => throw new IllegalArgumentException(s"unsupported format $other")
    }
    if (!withMetadata) base
    else base
      .withColumn("_file_name", input_file_name())
      .withColumn("_file_size", col("_metadata.file_size"))
      .withColumn("_file_modification_time", col("_metadata.file_modification_time"))
  }

  /** Opaque binary payloads (images/audio/video) with path/length
   *  metadata — feeds [[graft.llm.Multimodal]]. */
  def binaryFiles(spark: SparkSession, glob: String): DataFrame =
    spark.read.format("binaryFile").load(glob)

  /**
   * Option map for the MongoDB Spark connector — the reference's find
   * options map onto connector-side filter/projection pushdown, and a
   * server-side aggregation pipeline (`readers/mongo.go:664-700`)
   * passes through as `aggregation.pipeline` (JSON array of stages).
   * Pure function: unit-testable without the connector jar.
   */
  def mongoOptions(uri: String, database: String, collection: String,
                   pipeline: Option[String] = None,
                   readPreference: Option[String] = None,
                   extra: Map[String, String] = Map.empty): Map[String, String] = {
    require(uri.startsWith("mongodb://") || uri.startsWith("mongodb+srv://"),
      s"not a MongoDB connection uri: $uri")
    require(database.nonEmpty && collection.nonEmpty,
      "mongo requires a database and collection")
    Map("connection.uri" -> uri, "database" -> database, "collection" -> collection) ++
      pipeline.map("aggregation.pipeline" -> _) ++
      readPreference.map("readPreference.name" -> _) ++ extra
  }

  /** Mongo scan (find, or server-side aggregate when `pipeline` is
   *  set). Requires `org.mongodb.spark:mongo-spark-connector` on the
   *  classpath — absent, this fails fast with a clear message. */
  def mongo(spark: SparkSession, uri: String, database: String, collection: String,
            pipeline: Option[String] = None,
            readPreference: Option[String] = None,
            extra: Map[String, String] = Map.empty): DataFrame =
    try spark.read.format("mongodb")
      .options(mongoOptions(uri, database, collection, pipeline, readPreference, extra))
      .load()
    catch { case e: Exception if connectorMissing(e) => throw missingConnector(e) }

  /** Mongo change stream as a Structured Streaming source (reference
   *  `readers/mongo.go:703-730`); same classpath requirement. */
  def mongoChangeStream(spark: SparkSession, uri: String, database: String,
                        collection: String,
                        fullDocumentOnly: Boolean = true,
                        extra: Map[String, String] = Map.empty): DataFrame =
    try spark.readStream.format("mongodb")
      .options(mongoOptions(uri, database, collection, extra = extra) +
        ("change.stream.publish.full.document.only" -> fullDocumentOnly.toString))
      .load()
    catch { case e: Exception if connectorMissing(e) => throw missingConnector(e) }

  private def connectorMissing(e: Exception): Boolean = {
    val m = Option(e.getMessage).getOrElse("")
    m.contains("mongodb") && (m.contains("Failed to find") ||
      m.contains("DATA_SOURCE_NOT_FOUND") || e.isInstanceOf[ClassNotFoundException])
  }

  private def missingConnector(cause: Exception): RuntimeException =
    new IllegalStateException(
      "MongoDB Spark connector is not on the classpath; add " +
        "org.mongodb.spark:mongo-spark-connector (matching your Spark/Scala " +
        "version) to use Sources.mongo / mongoChangeStream", cause)
}
