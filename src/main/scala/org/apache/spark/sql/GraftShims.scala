package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Access shim for Column ↔ Catalyst-Expression plumbing, which Spark 4
 * scopes `private[sql]` (the Column API became node-based in 4.0).
 * Living in the `org.apache.spark.sql` package is the standard pattern
 * ecosystem libraries use to build native (codegen'd) expressions —
 * see graft.functions.VectorExpressions for the expressions this
 * enables.
 */
object GraftShims {

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a native expression as a SQL function on the session. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Parse a possibly multi-part table name (`db.tbl`) the way the SQL
   *  parser would — backtick-quoting a dotted name as ONE part targets
   *  the wrong table. */
  def parseTableIdentifier(spark: SparkSession, table: String): org.apache.spark.sql.catalyst.TableIdentifier =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser
      .parseTableIdentifier(table)

  /** Quote a parsed identifier for splicing into SQL. */
  def quoted(ident: org.apache.spark.sql.catalyst.TableIdentifier): String =
    ident.quotedString

  /** The location the session catalog WOULD assign a managed table of
   *  this name (db-qualified directory layout; multipart names
   *  resolved by the SQL parser, current database otherwise) —
   *  the only correct way to find a saveAsTable orphan directory. */
  def defaultTablePath(spark: SparkSession, table: String): java.net.URI = {
    val cat = spark.asInstanceOf[classic.SparkSession].sessionState.catalog
    cat.defaultTablePath(parseTableIdentifier(spark, table))
  }

  /** True when a catalog table in `database` is registered at this
   *  location — deleting such a directory would destroy live data,
   *  not an orphan. Locations compare as NORMALIZED paths (trailing
   *  slashes, file:/ vs file:/// authority forms), not raw URI
   *  equality, and the scan is scoped to the one database the
   *  location belongs to — a whole-catalog sweep costs one metastore
   *  RPC per table and fails on any unlistable database. */
  def tableRegisteredAt(spark: SparkSession, database: Option[String],
                        location: java.net.URI): Boolean = {
    val cat = spark.asInstanceOf[classic.SparkSession].sessionState.catalog
    def norm(u: java.net.URI): String =
      new org.apache.hadoop.fs.Path(u).toString.stripSuffix("/")
    val target = norm(location)
    val db = database.getOrElse(cat.getCurrentDatabase)
    try {
      cat.listTables(db).exists { ti =>
        try {
          val meta = cat.getTableMetadata(ti)
          Option(meta.storage.locationUri).flatten.exists(u => norm(u) == target)
        } catch { case _: Exception => false }
      }
    } catch { case _: Exception => false }
  }

  /** Eagerly free the persisted blocks behind a `localCheckpoint`ed
   *  Dataset. `df.unpersist()` is a CacheManager lookup and a
   *  checkpoint is NOT a cache entry — the blocks live on the
   *  checkpointed RDD itself and otherwise free only when the
   *  ContextCleaner GCs the RDD object. An iterative loop that
   *  checkpoints per round (graft.llm.Dedup.components) would
   *  accumulate every round's blocks in executor storage for the
   *  loop's lifetime without this. Safe once no live plan still
   *  reads the frame. Returns true when a checkpoint RDD was found
   *  and dropped.
   *
   *  ONLY frees a frame whose plan IS the checkpoint scan — a
   *  LogicalRDD at the root, optionally under projections/aliases. A
   *  LogicalRDD found DEEPER in the tree belongs to some upstream
   *  checkpointed input shared by other live frames (first seen:
   *  Spatial.gridClusters, which feeds components an edge list built
   *  on its dense-cell checkpoint when its grid is too big for the
   *  driver finish; round-1 labels embed that checkpoint — a
   *  collectFirst here dropped ITS blocks and every later round died
   *  with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, local checkpoints being
   *  unrecoverable by design).
   *
   *  ==CALLER CONTRACT (destructive — read before adding a call)==
   *  This irreversibly destroys the checkpoint's blocks; local
   *  checkpoints CANNOT be recomputed. The root-only guard above
   *  protects against freeing an UPSTREAM shared checkpoint, but it
   *  cannot detect a SECOND live frame aliasing the SAME root RDD
   *  (e.g. two Datasets derived from one localCheckpoint() result):
   *  any such alias read after this call dies with
   *  CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND at a distance. Call ONLY when
   *  the caller provably holds the sole reference to the frame — the
   *  Dedup.components per-round loop state is the model (each round's
   *  checkpoint is created, consumed, and released inside one owner;
   *  pinned by an LlmSpec regression test). This method stays public
   *  only because Scala visibility cannot scope `org.apache.spark.sql`
   *  to `graft`; it is NOT general-purpose API. */
  def unpersistCheckpoint(df: Dataset[_], blocking: Boolean = false): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case pr: Project => strip(pr.child)
      case sa: SubqueryAlias => strip(sa.child)
      case other => other
    }
    strip(df.queryExecution.analyzed) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking); true
      case _ => false
    }
  }

  /** The session's typed SQL conf. */
  def sqlConf(spark: SparkSession): internal.SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** The Hadoop conf a file read of the session uses: the context's
   *  conf with the session's SQL conf entries on top. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** The files a schema-less `spark.read.parquet` of `path` hands to
   *  schema inference, under the session's Hadoop conf `conf`
   *  ([[hadoopConf]]): the path globbed and checked as `DataSource` does
   *  it (a missing path throws Spark's own `PATH_NOT_FOUND`), then listed
   *  by an `InMemoryFileIndex` with its hidden-file filter (`_` and `.`
   *  names out, `_metadata` and `_common_metadata` kept). None for a
   *  streaming file sink's output directory, whose files Spark takes
   *  from the sink's commit log instead. */
  def leafFiles(spark: SparkSession, path: String, conf: org.apache.hadoop.conf.Configuration)
      : Option[Seq[org.apache.hadoop.fs.FileStatus]] = {
    import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
    import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
    if (FileStreamSink.hasMetadata(Seq(path), conf, sqlConf(spark))) None
    else {
      val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), conf,
        checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
      Some(new InMemoryFileIndex(spark.asInstanceOf[classic.SparkSession], roots, Map.empty, None)
        .allFiles())
    }
  }

  /** Apply a [[SparkSessionExtensions]]' injected functions to an
   *  ALREADY-BUILT session — lets tests exercise the extensions path
   *  without tearing down the shared session (extensions normally
   *  apply only at session instantiation). */
  def applyExtensionFunctions(spark: SparkSession,
                              ext: SparkSessionExtensions): Unit =
    ext.registerFunctions(
      spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry)
}
