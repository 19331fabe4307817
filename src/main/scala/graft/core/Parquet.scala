package graft.core

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{GraftFooters, ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/**
 * Parquet reads that start no Spark job.
 *
 * A parquet read without a schema (`spark.read.parquet`) infers one. With
 * `mergeSchema` off, Spark's inference (`ParquetUtils.inferSchema`) still
 * reads its one footer through `SchemaMergeUtils.mergeSchemasInParallel`:
 * a one-task job on every read. [[read]] resolves that same schema on
 * the driver and hands it to `spark.read.schema(...)`, which lists the
 * files but reads no footer. A probe on a 4-core VM (`Engine.local(4)`,
 * `-Xmx2g -XX:+UseSerialGC`, 150 alternating rounds) timed five warm
 * table reads at 295.5 ms [278.0, 312.4] median with inference and
 * 30.7 ms [28.2, 33.1] with the driver footer read: about 53 ms a read.
 *
 * The schema is Spark's own, by the same rule as its non-merge inference:
 *  - the file is the one Spark would touch: `_common_metadata`, else
 *    `_metadata`, else the first data file by path, among the files the
 *    file index lists (so with its hidden-file filter);
 *  - its footer is read in-process with
 *    `ParquetFileFormat.readParquetFootersInParallel`, under the session's
 *    Hadoop conf and its `ignoreCorruptFiles`;
 *  - `readSchemaFromFooter` converts it with the session's
 *    `binaryAsString`, `int96AsTimestamp`, `inferTimestampNTZ`,
 *    `nanosAsLong` and unknown-type-annotation flags, and keeps the Spark
 *    schema a Spark-written file carries in its row metadata.
 *
 * Spark's own read stays where the one-footer rule does not hold. With
 * `spark.sql.parquet.mergeSchema` on, every footer must be read, and
 * Spark's distributed read does that (a per-read `mergeSchema` option
 * means calling `spark.read.option(...)` directly). A streaming file
 * sink's directory is listed from its commit log. A path with no footer
 * to read (an empty directory, an ignored corrupt file) fails with
 * Spark's own error. Nothing is cached: every read reads its footer
 * again, so a rewritten path is never seen with a stale schema.
 */
object Parquet {

  /** `path` read as `spark.read.parquet` reads it, with the schema
   *  read from one footer on the driver (see the object doc). */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read)(spark.read.schema).parquet(path)

  /** The schema Spark's non-merge inference would give `path`, or None
   *  where Spark's own read must run (see the object doc). */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = GraftShims.sqlConf(spark)
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = GraftShims.hadoopConf(spark)
    GraftShims.leafFiles(spark, path, hadoopConf).flatMap(summaryOrFirst).flatMap { file =>
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      GraftFooters.read(hadoopConf, Seq(file), conf.ignoreCorruptFiles)
        .headOption.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
    }
  }

  /** The file Spark's non-merge inference touches: a summary file when
   *  there is one, `_common_metadata` first, else the first data file in
   *  path order. */
  private def summaryOrFirst(files: Seq[FileStatus]): Option[FileStatus] = {
    val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    val byPath = files.sortBy(_.getPath.toString)
    summaries.flatMap(n => byPath.find(_.getPath.getName == n)).headOption
      .orElse(byPath.find(f => !summaries.contains(f.getPath.getName)))
  }
}
