package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Session factory for the graft engine.
 *
 * Capability analogue of the reference's `Pipeline`/engine bootstrap
 * (goetl `pipeline/pipeline.go:68-159`), re-expressed as a configured
 * [[SparkSession]]: laziness + Catalyst replace the reference's pull loop.
 *
 * Scale posture: AQE on (runtime re-plan, skew-join handling, partition
 * coalescing), shuffle partitions sized for the deployment (32 for the
 * local[32] test rig; a real cluster overrides via `--conf`).
 */
object Engine {

  /** Scratch-column name that cannot collide with the frame's columns:
   *  `base`, then `base1`, `base2`, … — the shared helper behind every
   *  operator that adds temporary columns to caller-supplied frames
   *  (the caller may legitimately own a column named `__anything`). */
  private[graft] def freshColumn(df: DataFrame, base: String): String =
    Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
      .find(nm => !df.columns.contains(nm)).get

  /** Apply graft's defaults to an arbitrary builder (cluster or local).
   *
   *  Two of them keep whole-stage codegen warm across queries, above all
   *  across micro-batch queries (`Streaming.runBatchAsStream*`,
   *  `runUpdateStreamFiles`, `ChangeFeed`):
   *
   *   - `spark.sql.artifact.isolation.enabled=false`. Spark keys its
   *     codegen cache on (classloader, generated code). With artifact
   *     isolation on, Spark's default, every job carries the artifact
   *     state of its session's UUID, and the executor builds one
   *     isolated classloader per UUID. Each streaming query runs in a
   *     cloned session with a new UUID. So every class the query
   *     generates misses the cache: it is compiled again and starts cold
   *     in the interpreter, although its source is byte-identical to the
   *     previous run's. Measured on the `analytics` benchmark workload:
   *     the q90 stream gate compiled 14–18 classes on every warm pass
   *     with isolation on and none with it off. graft adds no session
   *     artifacts (no `addArtifact`), so isolation buys it nothing.
   *   - `spark.sql.codegen.cache.maxEntries=512` (Spark: 100). The cache
   *     is a segmented LRU that starts evicting before it holds 100
   *     classes, and one gate generates 15–40. With isolation off alone,
   *     5 of 12 runs of the `analytics` benchmark workload (q319, q239,
   *     q90) still recompiled 25 classes per warm pass; at 512 none did.
   *     It is a static conf: it sizes the JVM-wide cache when codegen
   *     first runs, so it must be set before the first query.
   *
   *  Both together took the `analytics` warm pass from 2.32 to 2.00 s
   *  (medians of 18 alternating runs each, 4-core VM). Opt-out: a
   *  deployment whose sessions add their own jars or classes (Spark
   *  Connect clients) needs the isolation and passes
   *  `--conf spark.sql.artifact.isolation.enabled=true`; it then pays
   *  the per-query recompiles.
   *
   *  Two more replace Hadoop's `file:` filesystem with a shell-free one:
   *  `spark.hadoop.fs.file.impl` = [[NioLocalFileSystem]] and
   *  `spark.hadoop.fs.AbstractFileSystem.file.impl` = [[NioLocalFs]].
   *  Without them, `file:` resolves to `org.apache.hadoop.fs.local.LocalFs`
   *  and, through Hadoop's service loader over Spark's jars, to Hive's
   *  `ProxyLocalFileSystem`; both sit on stock `RawLocalFileSystem`.
   *  Spark ships without `libhadoop.so`, so that class forks `chmod` on
   *  every `create` (file and `.crc`) and `mkdirs`, and `readlink` on
   *  every `FileContext` rename. Every local write pays it: the parquet,
   *  CSV and JSONL sinks and `FileOutputCommitter`, the streaming
   *  checkpoint logs (offsets, commits, metadata) and the RocksDB state
   *  snapshot upload. `EngineSpec`'s no-fork test (a two-trigger RocksDB
   *  stream plus a few file operations) counts 41 forks through Hadoop's
   *  `Shell` with only the first setting removed, 194 with only the
   *  second removed, and 0 with both. Measured per
   *  operation, stock -> shell-free (4-core VM, 800 MB heap, 100 ops
   *  after 100 warm-up): `LocalFileSystem.create` 7.4 -> 0.25 ms,
   *  `mkdirs` 4.6 -> 0.04 ms, `FileContext.create` 6.5 -> 0.29 ms,
   *  `FileContext` create + `rename(OVERWRITE)` 37.9 -> 0.77 ms; a plain
   *  NIO create takes 0.05-0.07 ms. [[NioRawLocalFileSystem]] makes the
   *  same system calls in process, with the same resulting modes and
   *  link answers. Only the `file:` scheme changes: HDFS, S3 and other
   *  checkpoint locations keep their own filesystems. Opt-out: `--conf
   *  spark.hadoop.fs.file.impl=org.apache.hadoop.fs.LocalFileSystem
   *  --conf spark.hadoop.fs.AbstractFileSystem.file.impl=org.apache.hadoop.fs.local.LocalFs`. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Join strategy (optimization guide §3.1): let the planner pick a
    // shuffled hash join over sort-merge when its size conditions hold —
    // both sides still shuffle, but neither pays a sort, and the graft
    // operator suite is dominated by equi-self-joins over intermediate
    // relations (graph wedges, fuzzy-join blocks, binned intervals) whose
    // sorts are pure overhead. The AQE threshold converts SMJ→SHJ at
    // runtime from MEASURED partition sizes (initial-plan stats over
    // checkpointed intermediates are unknown, so the static preference
    // alone rarely fires): a ≤64 MB per-partition build fits comfortably
    // in any executor that can run Spark at all, and AQE skew-join
    // splitting (on, above) keeps a skewed partition from blowing past
    // it. Measured on the r19 baseline (sf0.1, local[32]): the ten
    // join-heavy gates dropped 60.8 s → 45.0 s (−26%) with every member
    // flat or faster; results hash-identical (join strategy is
    // result-invariant).
    //
    // Memory assumption (r20, documenting the r19 advice): SHJ build
    // relations do NOT spill, and a 64 MB shuffle partition inflates
    // several-fold as an in-memory HashedRelation (~3-4×), so with C
    // concurrent tasks per executor the worst case pins ~C × 256 MB of
    // execution memory. The threshold therefore assumes executors with
    // ≥ ~1 GB of memory PER CORE (e.g. 4 cores / 8 GB heap — the small
    // end of any realistic deployment; this repo's 128 GB / 32-thread
    // rig has 4× that). Deployments below that should lower the
    // threshold proportionally via --conf; AQE skew-join splitting
    // (on, above) caps the tail a skewed key would otherwise add.
    .config("spark.sql.join.preferSortMergeJoin", "false")
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
      (64L * 1024 * 1024).toString)
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    // The test `events` table carries TIMESTAMP(NANOS), which Spark's
    // parquet reader rejects; read as long and convert (Tables below).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // One-shot verification streams (runBatchAsStream) use temporary
    // checkpoint dirs; delete them on stop so repeated gate/bench
    // invocations don't accumulate /tmp litter.
    .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    // Codegen stays warm across micro-batch queries: see the scaladoc.
    .config("spark.sql.artifact.isolation.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "512")
    // Local file operations without a forked shell: see the scaladoc.
    .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)

  /** Local session for tests / bench (single JVM, `cores` threads).
   *  `maxPartitionBytes` is sized down for the small local test files
   *  (at 128 MB default every test table is one scan task); cluster
   *  deployments keep the Spark default via [[configure]]. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft",
            shufflePartitions: Int = 32,
            maxPartitionBytes: String = "4m"): SparkSession = {
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.warehouse.dir",
          s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Loader for the test star schema (TESTDATA.md). Every read goes
 *  through [[Parquet.read]], so loading a table starts no Spark job:
 *  the schema comes from one footer read on the driver, not from
 *  Spark's one-task inference job (about 53 ms a read on a 4-core VM;
 *  see [[Parquet]] for the rule and the `mergeSchema` exception). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table of a scale-factor directory as a temp view,
   *  enabling `spark.sql("SELECT ... FROM lineitem")` over the test
   *  star schema. `dir` may be any Hadoop path or URI (`file:///…`,
   *  `hdfs://…`): a table exists when the path's own filesystem has it. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val conf = org.apache.spark.sql.GraftShims.hadoopConf(spark)
    names.foreach { n =>
      val path = new org.apache.hadoop.fs.Path(s"$dir/$n.parquet")
      if (path.getFileSystem(conf).exists(path))
        apply(spark, dir, n).createOrReplaceTempView(n)
    }
  }

  /** Read one table from a scale-factor directory, with the events
   *  `ts` column normalized to session-zone TimestampType (see
   *  [[normalizeTs]] for the physical representations handled). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = Parquet.read(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** Normalize a `ts` column to session-zone TimestampType across the
   *  physical representations the generated events table has shipped
   *  with: epoch-NANOS INT64 (TIMESTAMP(NANOS) under `nanosAsLong` —
   *  exact integer division to micros), TIMESTAMP_NTZ (micros,
   *  isAdjustedToUTC=false — cast reinterprets the wall-clock in the
   *  session zone, which is pinned to UTC, matching how DuckDB reads
   *  the same naive values), or already-zoned TimestampType
   *  (passthrough). Works on batch AND streaming frames — streaming
   *  gates read the PHYSICAL schema ([[rawSchema]]) and apply this
   *  inside the stream transform. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** A table's PHYSICAL parquet schema (nano timestamps as INT64 under
   *  `nanosAsLong`) — what `readStream` must be given, since the
   *  file-stream source reads exactly what is in the files. Config
   *  handling lives here with the rest of the table-loading policy,
   *  not in query code. */
  def rawSchema(spark: SparkSession, dir: String, name: String): org.apache.spark.sql.types.StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Parquet.read(spark, s"$dir/$name.parquet").schema
  }
}
