package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer

/**
 * Access shim for Spark's footer reader, which Spark scopes
 * `private[parquet]`: [[graft.core.Parquet]] reads the one footer schema
 * inference touches through the same call inference makes, so a corrupt
 * file fails (or, under `ignoreCorruptFiles`, is skipped) exactly as it
 * would inside Spark's inference job.
 */
object GraftFooters {

  /** `files`' footers without row groups, read on this JVM. */
  def read(conf: Configuration, files: Seq[FileStatus], ignoreCorruptFiles: Boolean): Seq[Footer] =
    ParquetFileFormat.readParquetFootersInParallel(conf, files, ignoreCorruptFiles)
}
