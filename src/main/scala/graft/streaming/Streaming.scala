package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import scala.reflect.runtime.universe.TypeTag

import graft.agg.Sketches
import graft.core.Snap.{cents, r9, unscaled}
import graft.ops.TimeSeries

/**
 * Streaming parity — the reference's only unbounded source is the
 * Mongo change stream flowing through the same blocking read loop with
 * no watermarks, state, or event-time windows
 * (goetl `readers/mongo.go:703-730`; README `:658` lists streaming
 * execution as roadmap). This module exposes the full Structured
 * Streaming surface as the capability superset: file/rate sources,
 * watermarked tumbling/sliding/session windows, custom keyed state,
 * and sinks with checkpointing — semantics are ours to define cleanly
 * (SURVEY.md §7.3 item 7).
 *
 * Every window helper is a pure DataFrame→DataFrame function, so the
 * SAME transformation runs in batch mode (as the gate queries do) and
 * streaming mode — Structured Streaming's core design point.
 */
object Streaming {

  /** File-based stream (each new file = a micro-batch) — the generic
   *  replacement for the reference's change-stream tailing. */
  def readStream(spark: SparkSession, format: String, path: String,
                 schema: StructType,
                 options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.format(format).schema(schema).options(options).load(path)

  /** Rate source for tests/demos: `rowsPerSecond` synthetic rows. */
  def rateStream(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()

  /** Event-time watermark: bounds state for late data. */
  def withWatermark(df: DataFrame, tsCol: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)

  /** Tumbling event-time window aggregation. */
  def tumbling(df: DataFrame, tsCol: String, width: String,
               keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(tsCol), width) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Sliding event-time window aggregation. */
  def sliding(df: DataFrame, tsCol: String, width: String, slide: String,
              keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(tsCol), width, slide) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session window (gap-based) aggregation — works identically in
   *  batch and streaming; a new session starts when the gap since the
   *  previous event is ≥ `gap`. */
  def session(df: DataFrame, tsCol: String, gap: String,
              keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(session_window(col(tsCol), gap) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Streaming sink with checkpointing. */
  def writeStream(df: DataFrame, format: String, path: String,
                  checkpoint: String,
                  outputMode: OutputMode = OutputMode.Append(),
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream.format(format)
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(outputMode)
      .trigger(trigger)
      .start()

  /**
   * Execute `transform` as a REAL Structured Streaming job over the
   * parquet files at `path` — one-shot `Trigger.AvailableNow` (process
   * everything currently there, then stop), complete-mode memory sink —
   * and return the final result. This is the bridge that lets batch
   * oracles verify actual micro-batch execution: the same aggregation
   * the batch gate checks runs here through the streaming engine
   * (file-source listing, micro-batch planning, state store) and must
   * produce identical results. `transform` must end in an aggregation
   * under the default Complete mode (complete requires one); pass
   * `OutputMode.Append()` for non-aggregating transforms — e.g. a
   * stream-stream [[intervalJoin]], whose appended matches accumulate
   * in the sink across micro-batches. The memory sink is
   * test/verification plumbing — production streams use
   * [[writeStream]]/[[foreachBatchSink]].
   *
   * `statePartitions` sizes the stateful-operator partitioning —
   * every stateful op materializes one state store instance PER
   * shuffle partition, each paying init + per-batch commit/fsync, and
   * the count is FROZEN into the checkpoint at first run, so it is a
   * deliberate deployment decision, not something to inherit from the
   * session's CPU-count-shaped `spark.sql.shuffle.partitions`. Size
   * it to keyspace and state volume: a gate-scale keyspace wants a
   * handful (measured: the stream-stream interval join pays ~2× at 32
   * partitions vs 8 — pure store overhead, identical results); a
   * 100 TB keyed stream wants hundreds so each store's state fits its
   * executor's disk. The conf override is session-global while the
   * stream runs (scoped via [[withConf]], restored after
   * `awaitTermination`) — like every conf-scoped helper here, this
   * assumes the session is not concurrently planning other work.
   */
  def runBatchAsStream(spark: SparkSession, path: String, schema: StructType,
                       transform: DataFrame => DataFrame,
                       name: String,
                       outputMode: OutputMode = OutputMode.Complete(),
                       statePartitions: Option[Int] = None,
                       sourceOptions: Map[String, String] = Map.empty): DataFrame = {
    withConf(spark, "spark.sql.shuffle.partitions",
        statePartitions.map(_.toString)) {
      val stream = spark.readStream.schema(schema).options(sourceOptions)
        .parquet(path)
      transform(stream).writeStream.format("memory").queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    // The complete-mode result already lives in the driver (that's what
    // a memory sink is); copy it into a standalone local relation and
    // DROP the sink's temp view so repeated invocations don't pin one
    // full result copy per call for the session's lifetime.
    val result = spark.table(name)
    val rows = result.collect().toSeq
    spark.catalog.dropTempView(name)
    // a true LocalRelation (not a parallelize'd RDD scan): downstream
    // consumers keep local-collect/pruning optimizations
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), result.schema)
  }

  /**
   * FILE-BACKED variant of [[runBatchAsStream]]: the streaming result
   * lands in a checkpointed PARQUET sink and comes back as a
   * file-backed DataFrame — no driver-side collect anywhere. This is
   * the production-shaped bridge: [[runBatchAsStream]]'s memory sink
   * necessarily copies the whole result through the driver (fine for
   * few-row test aggregates, a bottleneck on a real keyspace), so the
   * memory-sink form is TEST/VERIFICATION plumbing only — gates over
   * thousands of rows and any production use belong here or on
   * [[writeStream]]/[[foreachBatchSink]] directly.
   *
   * The file sink is APPEND-ONLY (Structured Streaming contract):
   * aggregations must carry a watermark and emit only finalized
   * windows — the same append+watermark-cutoff semantics a production
   * stream writing parquet has. `dir` receives `out/` (sink) and
   * `chk/` (checkpoint); the returned DataFrame reads `out/` and an
   * empty result comes back as an empty frame of the sink's schema
   * (the sink always writes its `_spark_metadata`, so the directory
   * exists even with zero emitted rows).
   */
  def runBatchAsStreamFiles(spark: SparkSession, path: String, schema: StructType,
                            transform: DataFrame => DataFrame,
                            dir: String,
                            statePartitions: Option[Int] = None,
                            sourceOptions: Map[String, String] = Map.empty): DataFrame = {
    val out = s"$dir/out"
    val chk = s"$dir/chk"
    val resultSchema = withConf(spark, "spark.sql.shuffle.partitions",
        statePartitions.map(_.toString)) {
      val stream = spark.readStream.schema(schema).options(sourceOptions)
        .parquet(path)
      val transformed = transform(stream)
      transformed.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      transformed.schema
    }
    spark.read.schema(resultSchema).parquet(out)
  }

  /**
   * UPDATE-MODE variant of [[runBatchAsStreamFiles]] for stateful
   * transforms that emit per-key UPDATES (`mapGroupsWithState`,
   * update-mode aggregations): the file sink is append-only and cannot
   * take Update output directly, so each micro-batch's emissions
   * land under `dir/out` through `foreachBatch` — the standard
   * production pattern for materializing an update stream to files.
   * Each batch writes its own `out/batch_<id>` subdir in OVERWRITE
   * mode, so a batch replayed after a crash (foreachBatch is
   * at-least-once) overwrites its own previous attempt instead of
   * appending a duplicate — the emitted log is exactly-once per
   * batch id. The returned frame reads ALL emitted updates (a key
   * appears once per batch that changed it); consumers fold to
   * latest/max per key — which is also why this needs no watermark:
   * the update log is append-safe by construction. Same
   * `statePartitions` contract as [[runBatchAsStreamFiles]].
   */
  def runUpdateStreamFiles(spark: SparkSession, path: String, schema: StructType,
                           transform: DataFrame => DataFrame,
                           dir: String,
                           statePartitions: Option[Int] = None,
                           sourceOptions: Map[String, String] = Map.empty): DataFrame = {
    val out = s"$dir/out"
    val chk = s"$dir/chk"
    val resultSchema = withConf(spark, "spark.sql.shuffle.partitions",
        statePartitions.map(_.toString)) {
      val stream = spark.readStream.schema(schema).options(sourceOptions)
        .parquet(path)
      val transformed = transform(stream)
      transformed.writeStream
        .option("checkpointLocation", chk)
        .outputMode(OutputMode.Update())
        .foreachBatch(writeUpdateBatch(out) _)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      transformed.schema
    }
    // zero batches emitted → no out dir (foreachBatch never ran)
    val outPath = new org.apache.hadoop.fs.Path(out)
    if (outPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(outPath))
      spark.read.schema(resultSchema)
        .option("recursiveFileLookup", "true").parquet(out)
    else
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), resultSchema)
  }

  /** The [[runUpdateStreamFiles]] batch sink, factored for direct
   *  replay testing: batch `id` owns `out/batch_<id>`, overwritten
   *  whole on a crash replay — re-running the same (batch, id) is a
   *  no-op on the log's contents, so foreachBatch's at-least-once
   *  delivery yields an exactly-once-per-id update log. */
  private[streaming] def writeUpdateBatch(out: String)(batch: DataFrame, id: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$out/batch_$id")

  /** Scoped session-conf override: set `key` to `value` (None = leave
   *  untouched), run `body`, restore the prior state. The override is
   *  SESSION-GLOBAL while body runs — callers must not concurrently
   *  plan other work on the same session (all uses here are
   *  sequential gate/test drivers), and nesting overrides of the same
   *  key restores correctly only in LIFO order. */
  private[streaming] def withConf[T](spark: SparkSession, key: String,
                                     value: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(key)
    value.foreach(spark.conf.set(key, _))
    try body finally if (value.nonEmpty) prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Run `body` with the RocksDB state store provider (bundled with
   *  Spark 4 — rocksdbjni ships in the distribution), restoring the
   *  prior provider after. THE state backend for 100 TB streaming:
   *  keyed state lives off-heap/on-disk per task instead of in
   *  executor heap, so state size is bounded by disk, not memory.
   *  The provider conf is read at QUERY START, so wrapping the
   *  `start()` call is sufficient; restoring it never affects a
   *  running query. Same single-threaded-session contract as
   *  [[withConf]]. */
  def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T =
    withConf(spark, "spark.sql.streaming.stateStore.providerClass",
      Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))(body)

  /** In-memory sink for tests: results under `SELECT * FROM <name>`. */
  def memorySink(df: DataFrame, name: String,
                 outputMode: OutputMode = OutputMode.Complete()): StreamingQuery =
    df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).trigger(Trigger.AvailableNow()).start()

  /** foreachBatch sink — the hook for exactly-once-ish custom writes
   *  (e.g. [[graft.sinks.Sinks.jdbcUpsert]] per micro-batch). */
  def foreachBatchSink(df: DataFrame, checkpoint: String,
                       fn: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(fn)
      .trigger(Trigger.AvailableNow())
      .start()

  /**
   * Stream-stream interval join: rows match when they share `keys` AND
   * the right event time lies within ±`tolerance` of the left's. Both
   * sides carry watermarks and the join condition bounds event time in
   * BOTH directions, so Structured Streaming can evict state on both
   * sides — the requirements for an unbounded-safe stream-stream join.
   * Right-side columns come back prefixed (`prefix`) to avoid
   * collisions. The same call works in batch mode (watermarks are
   * no-ops there).
   */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTs: String, rightTs: String,
                   delay: String, tolerance: String,
                   joinType: String = "inner",
                   prefix: String = "r_"): DataFrame = {
    val l = left.withWatermark(leftTs, delay)
    val r0 = right.withWatermark(rightTs, delay)
    // single-pass aliasing (a sequential rename cascade corrupts names
    // when a column already carries the prefix); aliases keep the
    // event-time watermark metadata
    val r = r0.select(r0.columns.toIndexedSeq.map(c => col(c).as(s"$prefix$c")): _*)
    val keyCond = keys.map(k => l(k) === r(s"$prefix$k")).reduce(_ && _)
    val timeCond =
      r(s"$prefix$rightTs") >= l(leftTs) - expr(s"INTERVAL $tolerance") &&
        r(s"$prefix$rightTs") <= l(leftTs) + expr(s"INTERVAL $tolerance")
    l.join(r, keyCond && timeCond, joinType)
  }

  /** Streaming deduplication: drop repeat KEYS (not key+timestamp —
   *  a repeated key with a different event time is still a duplicate),
   *  with the watermark bounding the dedup state: duplicates arriving
   *  within the watermark delay of the first sighting are dropped,
   *  older state is forgotten. The stream form of
   *  [[graft.llm.Dedup.exact]] for exactly-once-ish ingestion. */
  def dedupStream(df: DataFrame, keys: Seq[String],
                  tsCol: String, watermarkDelay: String): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /**
   * First-seen processor behind [[dedupStreamTtl]] — Spark 4's
   * arbitrary-state API (`StatefulProcessor`): per-key ValueState with
   * a PROCESSING-TIME TTL, so a key seen longer than `ttl` ago expires
   * from the store and its next occurrence passes again. State is
   * bounded by the TTL horizon regardless of key cardinality — the
   * contract a forever-running ingest stream needs when keys have no
   * usable event time (where [[dedupStream]]'s watermark form applies).
   */
  final class FirstSeenProcessor[V](ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, V), (String, V)] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Boolean] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean,
        org.apache.spark.sql.streaming.TTLConfig(ttl))

    override def handleInputRows(key: String, rows: Iterator[(String, V)],
                                 tv: org.apache.spark.sql.streaming.TimerValues): Iterator[(String, V)] =
      if (seen.exists()) Iterator.empty
      else { seen.update(true); rows.take(1) }
  }

  /**
   * Streaming exact dedup with TTL-BOUNDED state, on the
   * `transformWithState` arbitrary-state API: the first occurrence of
   * each key in a `ttl` processing-time horizon passes, repeats drop,
   * expired keys pass again. Complements [[dedupStream]]: the
   * watermark form bounds state by EVENT time (needs a timestamp
   * column and tolerates only watermark-bounded lateness); this form
   * bounds it by PROCESSING time — the right tool for keyed ingest
   * without usable event times. Requires the RocksDB state store
   * (transformWithState's backing store — see
   * [[withRocksDbStateStore]]), which is the 100 TB posture anyway.
   *
   * Lifecycle note: a processing-time transformWithState query is a
   * genuinely CONTINUOUS stream — the engine keeps scheduling
   * (mostly-empty) micro-batches because advancing time alone can
   * expire state, and it does so even under `Trigger.AvailableNow`
   * (observed on Spark 4.1: the query does not self-terminate).
   * Treat it as a long-running service: consume the sink as results
   * arrive and `stop()` the query explicitly;
   * `processAllAvailable()`/`awaitTermination()` never settle.
   */
  def dedupStreamTtl[V](ds: Dataset[(String, V)], ttl: java.time.Duration)(
      implicit enc: org.apache.spark.sql.Encoder[(String, V)]): Dataset[(String, V)] =
    ds.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .transformWithState(new FirstSeenProcessor[V](ttl),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append(), enc)

  /** Running per-key state for [[runningCount]]. */
  final case class KeyCount(key: String, count: Long)

  /**
   * Custom keyed state via `mapGroupsWithState` — the surface the
   * reference's CDC-ish consumers would need for dedup-on-stream or
   * running enrichment: an ever-updating per-key count with processing-
   * time timeout semantics left to the caller's trigger cadence.
   */
  def runningCount(ds: Dataset[(String, Long)]): Dataset[KeyCount] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_._1)
      .mapGroupsWithState[Long, KeyCount](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val next = prev + rows.map(_._2).sum
          state.update(next)
          KeyCount(key, next)
      }
  }

  /**
   * Streaming funnel: the [[graft.ops.TimeSeries.funnel]] semantics
   * maintained INCREMENTALLY over a micro-batch stream with custom
   * keyed state (`mapGroupsWithState`, Update mode) — per actor, an
   * array of k step markers (epoch micros, `Long.MaxValue` =
   * unreached), where marker i is the earliest step-i event at-or-
   * after marker i−1.
   *
   * Ordering contract: batch-exact ONLY on an event-time-ordered feed
   * (the file-bridge pattern — chronological chunks, e.g. one file
   * per hour, `maxFilesPerTrigger=1`), because funnel qualification
   * is retroactive under disorder: a step-1 event arriving AFTER a
   * later-timestamped step-2 event was processed cannot requalify it
   * without buffering raw events. Within a batch, events process
   * sorted by (ts, step index), so a step tied on timestamp with its
   * predecessor qualifies — the same RANGE-frame tie reading as the
   * batch operator.
   *
   * State is k longs per actor — bounded, RocksDB-compatible, no
   * event buffering. Output per batch: (actor, marks) for every actor
   * the batch touched; markers are SET-ONCE on an ordered feed, so
   * the update log folds order-free ([[foldFunnelUpdates]]).
   */
  def funnelStream(df: DataFrame, actorCol: String, tsCol: String,
                   typeCol: String, steps: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = steps.length
    require(k >= 1, "funnelStream needs at least one step")
    val stepIdx = steps.zipWithIndex.toMap
    val ds = df
      .filter(col(actorCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isin(steps.map(lit): _*))
      .select(col(actorCol).cast("long"), unix_micros(col(tsCol)),
        col(typeCol).cast("string"))
      .as[(Long, Long, String)]
    ds.groupByKey(_._1)
      .mapGroupsWithState[Array[Long], (Long, Array[Long])](
        GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, String)],
         state: GroupState[Array[Long]]) =>
          val marks = state.getOption.getOrElse(Array.fill(k)(Long.MaxValue))
          // ties process predecessor-step first (RANGE-frame reading)
          rows.toSeq.sortBy(r => (r._2, stepIdx(r._3))).foreach {
            case (_, ts, typ) =>
              val i = stepIdx(typ)
              if (ts < marks(i) && (i == 0 || marks(i - 1) <= ts))
                marks(i) = ts
          }
          state.update(marks)
          (key, marks.toSeq.toArray)
      }
      .toDF("actor", "marks")
  }

  /**
   * Collapse a [[funnelStream]] update log (one (actor, marks) row
   * per actor per batch that touched it) to the batch-funnel shape:
   * `actorCol`, `step1_ts … stepN_ts` (timestamp, null where never
   * reached), `stage`. Markers are set-once on an ordered feed, so
   * `min` per position is an ORDER-FREE fold — exactly-once not
   * required of the log (the bridge's at-least-once duplicates fold
   * to the same answer).
   */
  def foldFunnelUpdates(updates: DataFrame, actorCol: String,
                        k: Int): DataFrame = {
    val sentinel = Long.MaxValue
    val markMins = (0 until k).map(i =>
      min(element_at(col("marks"), i + 1)).as(s"__m$i"))
    val folded = updates.groupBy(col("actor").as(actorCol))
      .agg(markMins.head, markMins.tail: _*)
    val withSteps = (0 until k).foldLeft(folded) { (acc, i) =>
      acc.withColumn(s"step${i + 1}_ts",
        when(col(s"__m$i") =!= sentinel, timestamp_micros(col(s"__m$i"))))
    }
    val stage = (0 until k).foldLeft(lit(0)) { (acc, i) =>
      when(col(s"step${i + 1}_ts").isNotNull, lit(i + 1)).otherwise(acc)
    }
    withSteps.withColumn("stage", stage)
      .select(col(actorCol) +:
        (0 until k).map(i => col(s"step${i + 1}_ts")) :+ col("stage"): _*)
  }

  /**
   * One keyed recurrence of [[sortedRecurrence]]. `init` is a new
   * key's state; `step(key, ts, tie, value, state, emit)` folds one
   * event and returns the state after it, emitting zero or more rows;
   * `flush(key, state, emit)` runs once per key at the end of each
   * batch, after the last step.
   */
  private[streaming] final class Recurrence[V, S, O](
      val init: S,
      val step: (Long, Long, Long, V, S, O => Unit) => S,
      val flush: (Long, S, O => Unit) => Unit = (_: Long, _: S, _: O => Unit) => ())
    extends Serializable

  /** One batch of one key: `rows` (actor, ts, tie, value) sorted by
   *  (ts, tie) and folded from `state`. Returns the state after the
   *  batch and the rows it emitted, in emission order. Pure Scala —
   *  [[sortedRecurrence]] runs it once per key per micro-batch. */
  private[streaming] def foldBatch[V, S, O](rec: Recurrence[V, S, O], key: Long,
                                           rows: Iterator[(Long, Long, Long, V)],
                                           state: S): (S, Iterator[O]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[O]
    val emit: O => Unit = out += _
    val end = rows.toSeq.sortBy(r => (r._2, r._3)).foldLeft(state) {
      case (s, (_, ts, tie, v)) => rec.step(key, ts, tie, v, s, emit)
    }
    rec.flush(key, end, emit)
    (end, out.iterator)
  }

  /**
   * The pipeline behind the nine ordered keyed-state operators
   * ([[transitionsStream]], [[ewmaStream]], [[compactStream]],
   * [[cusumStream]], [[pageHinkleyStream]], [[macdStream]],
   * [[holtStream]], [[trackingSignalStream]], [[twapStream]]): drop
   * rows with a null actor, ts or tie or a null in `notNull` (the
   * batch twins' filter, [[graft.ops.TimeSeries.positioned]]), key by
   * the actor as a long, and fold each key's rows of a micro-batch
   * through `rec` ([[foldBatch]]) under `flatMapGroupsWithState`
   * (Update mode, no timeout). The state round-trips through the store
   * between batches; the output columns are `names`.
   *
   * Order contract: inside one batch the rows of a key are folded in
   * (ts, tie) order — the batch twins' window order — whatever order
   * they arrived in. Across batches the fold continues from the stored
   * state, so batch ≡ stream holds exactly when the feed preserves
   * per-key (ts, tie) order across micro-batches: time-ordered chunks,
   * as the gates feed them (hour-ranged files, one per trigger). A row
   * that arrives in a later batch but sorts before the key's last
   * folded (ts, tie) is folded as if it came last: the state holds no
   * raw events, so it cannot undo the rows already folded, and the
   * stream's answer then differs from the batch operator's. Rows tied
   * on (ts, tie) fold in arrival order, so a tie column should be
   * unique per key.
   *
   * Replays: the store commits atomically with the batch, so a
   * replayed batch re-reads the pre-batch state and emits identical
   * rows; each operator's fold turns the at-least-once update log
   * into its final answer.
   */
  private def sortedRecurrence[V: TypeTag, S <: Product : TypeTag, O <: Product : TypeTag](
      df: DataFrame, actorCol: String, tsCol: String, tieCol: String,
      value: Column, notNull: Seq[String], rec: Recurrence[V, S, O],
      names: String*): DataFrame =
    TimeSeries.positioned(df, Seq(actorCol), tsCol, tieCol, notNull)
      .select(col(actorCol).cast("long"), unix_micros(col(tsCol)),
        col(tieCol).cast("long"), value)
      .as(Encoders.product[(Long, Long, Long, V)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (key: Long, in: Iterator[(Long, Long, Long, V)], state: GroupState[S]) =>
          val (end, out) = foldBatch(rec, key, in, state.getOption.getOrElse(rec.init))
          state.update(end)
          out
      }(Encoders.product[S], Encoders.product[O])
      .toDF(names: _*)

  /** The final row per key of an update log whose `n` grows strictly
   *  per key: `max(n)` and, for each of `cols`, its value on that row
   *  (`max_by`). Replayed rows are byte-identical, so a duplicated
   *  final row folds to the same values. */
  private def finalRows(updates: DataFrame, key: String, n: String,
                        cols: String*): DataFrame =
    updates.groupBy(col(key))
      .agg(max(col(n)).as(n), cols.map(c => max_by(col(c), col(n)).as(c)): _*)

  /**
   * The q151 Markov transition matrix as INCREMENTAL keyed state: per
   * actor, the last-seen state plus cumulative (from → to) pair
   * counts, updated batch over batch — adjacency crosses micro-batch
   * boundaries through the retained last state, so a feed split at
   * any point yields the same pairs as the batch operator. Rows with a
   * null state are dropped. Order contract: [[sortedRecurrence]]
   * (exactness under arbitrary lateness would need raw-event
   * buffering, not one state string and a count map).
   *
   * State per actor: one string + a counts map bounded by the state
   * vocabulary squared — RocksDB-compatible, no event buffering.
   * Output per batch: the actor's FULL cumulative (from, to, n)
   * entries — counts are nondecreasing, so the update log folds
   * order- and duplicate-free with `max` ([[foldTransitionUpdates]]).
   */
  def transitionsStream(df: DataFrame, actorCol: String, tsCol: String,
                        stateCol: String, tieCol: String): DataFrame =
    sortedRecurrence(df, actorCol, tsCol, tieCol, col(stateCol).cast("string"),
      Seq(stateCol), transitions, "actor", "from_state", "to_state", "n")

  private[streaming] val transitions = {
    val sep = "\u0001" // never appears in event-type vocabularies
    new Recurrence[String, (String, Map[String, Long]), (Long, String, String, Long)](
      (null, Map.empty),
      (_, _, _, st, s, _) => {
        val (last, counts) = s
        if (last == null) (st, counts)
        else {
          val k = last + sep + st
          (st, counts.updated(k, counts.getOrElse(k, 0L) + 1L))
        }
      },
      (key, s, emit) => s._2.foreach { case (k, n) =>
        val Array(from, to) = k.split(sep, 2)
        emit((key, from, to, n))
      })
  }

  /**
   * The q167 EWMA smoother as INCREMENTAL keyed state: one double per
   * actor (the last smoothed value) carries the recurrence
   * `e' = e + α·(x − e)` across micro-batches — the unbounded-series
   * form the batch operator's per-key array fold cannot take. Order
   * contract and replay safety: [[sortedRecurrence]]; duplicates fold
   * away per (actor, `tieCol`) ([[foldEwmaUpdates]]).
   *
   * Output per batch: (actor, tie, ts_micros, value, ewma) for every
   * event in the batch.
   */
  def ewmaStream(df: DataFrame, actorCol: String, tsCol: String,
                 tieCol: String, valueCol: String,
                 alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    sortedRecurrence(df, actorCol, tsCol, tieCol, col(valueCol).cast("double"),
      Seq(valueCol), ewma(alpha), "actor", "tie", "ts_micros", "value", "ewma")
  }

  private[streaming] def ewma(alpha: Double) =
    new Recurrence[Double, (Boolean, Double), (Long, Long, Long, Double, Double)](
      (false, 0.0),
      (key, ts, tie, v, s, emit) => {
        val (seen, e0) = s
        val e = if (!seen) v else e0 + alpha * (v - e0)
        emit((key, tie, ts, v, e))
        (true, e)
      })

  /**
   * Streaming distinct counts with MERGEABLE sketch state: one
   * DataSketches HLL sketch per key (serialized into the state store,
   * ~4 KB max at lgK=12), updated batch over batch — the unbounded
   * form of exact streaming distinct counting, whose state would be
   * the whole keyspace. The per-key estimate is within ~1.6% RSE of
   * the true distinct count at any stream length.
   *
   * Output per batch: (key, n_seen, estimate) — `n_seen` counts
   * PROCESSED rows (monotone, so the update log folds to the final
   * row with `max(n_seen)` per key; replays re-read pre-batch state
   * and emit identical rows, the [[ewmaStream]] argument). The
   * estimate is sketch arithmetic — gate the accuracy CONTRACT, not
   * the value (the q146 pattern).
   */
  def distinctCountStream(df: DataFrame, keyCol: String, valueCol: String,
                          lgK: Int = 12): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df
      .filter(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).cast("string"), col(valueCol).cast("long"))
      .as[(String, Long)]
    ds.groupByKey(_._1)
      .mapGroupsWithState[(Long, Array[Byte]), (String, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)],
         state: GroupState[(Long, Array[Byte])]) =>
          import org.apache.datasketches.hll.HllSketch
          import org.apache.datasketches.memory.Memory
          val (seen0, bytes0) = state.getOption.getOrElse((0L, null: Array[Byte]))
          val sk =
            if (bytes0 == null) new HllSketch(lgK)
            else HllSketch.heapify(Memory.wrap(bytes0))
          var n = seen0
          rows.foreach { case (_, v) => sk.update(v); n += 1 }
          state.update((n, sk.toUpdatableByteArray))
          (key, n, sk.getEstimate)
      }
      .toDF("key", "n_seen", "estimate")
  }

  /**
   * Streaming quantiles with MERGEABLE sketch state: one DataSketches
   * KLL doubles sketch per key serialized into the state store,
   * updated batch over batch — running p25/p50/p75 for an unbounded
   * stream whose exact quantiles would need the full history. Rank
   * error is the KLL bound for the chosen `k` (~1.65% two-sided at
   * k = 200), independent of stream length. Store cost ~483
   * bytes/key all-in at 6 ticks/key (round-15 probe, flat 16k → 1M
   * keys; the serialized sketch grows with ln(n/k) beyond that —
   * PLANS.md).
   *
   * Output per batch: (key, n_seen, p25, p50, p75). `n_seen` counts
   * processed rows (monotone — the update log folds to the final row
   * per key via [[foldQuantileUpdates]]); the estimates are sketch
   * arithmetic, so gates check the RANK-ERROR CONTRACT against the
   * exact data (the [[distinctCountStream]] / q146 pattern), never
   * the values.
   */
  def quantileStream(df: DataFrame, keyCol: String, valueCol: String,
                     k: Int = 200): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df
      .filter(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).cast("string"), col(valueCol).cast("double"))
      .as[(String, Double)]
    ds.groupByKey(_._1)
      .mapGroupsWithState[(Long, Array[Byte]),
        (String, Long, Double, Double, Double)](
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Double)],
         state: GroupState[(Long, Array[Byte])]) =>
          import org.apache.datasketches.kll.KllDoublesSketch
          import org.apache.datasketches.memory.Memory
          val (seen0, bytes0) = state.getOption.getOrElse((0L, null: Array[Byte]))
          val sk =
            if (bytes0 == null) KllDoublesSketch.newHeapInstance(k)
            else KllDoublesSketch.heapify(Memory.wrap(bytes0))
          var n = seen0
          rows.foreach { case (_, v) => sk.update(v); n += 1 }
          state.update((n, sk.toByteArray))
          (key, n, sk.getQuantile(0.25), sk.getQuantile(0.5),
            sk.getQuantile(0.75))
      }
      .toDF("key", "n_seen", "p25", "p50", "p75")
  }

  /**
   * Streaming heavy hitters with Misra-Gries counter state: at most
   * `k` (item, counter) pairs per key — bounded state for an
   * unbounded item space (~447 bytes/key all-in at k=8 by the
   * round-15 probe, flat 16k → 1M keys; PLANS.md) — updated batch
   * over batch with the classic decrement rule. The GUARANTEE survives streaming because MG
   * summaries merge: any item with true frequency > n/(k+1) is in
   * the final candidate set (recall-complete; counts are lower
   * bounds, exact recount is the batch [[graft.agg.Sketches
   * .heavyHitters]] second pass).
   *
   * Output per batch: (key, n_seen, candidates) — `candidates` the
   * surviving items SORTED (deterministic presentation; MG counter
   * values are order-of-arrival artifacts and deliberately not
   * emitted). Gates hash the engine-independent claims: coverage
   * (n_seen == rows) and the recall contract against exact counts.
   */
  def heavyHitterStream(df: DataFrame, keyCol: String, itemCol: String,
                        k: Int = 16): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df
      .filter(col(keyCol).isNotNull && col(itemCol).isNotNull)
      .select(col(keyCol).cast("string"), col(itemCol).cast("string"))
      .as[(String, String)]
    ds.groupByKey(_._1)
      .mapGroupsWithState[(Long, Map[String, Long]),
        (String, Long, Seq[String])](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[(Long, Map[String, Long])]) =>
          val (seen0, m0) = state.getOption.getOrElse(
            (0L, Map.empty[String, Long]))
          var n = seen0
          val m = scala.collection.mutable.Map[String, Long](m0.toSeq: _*)
          rows.foreach { case (_, item) =>
            n += 1
            Sketches.misraGries(m, k, item)
          }
          state.update((n, m.toMap))
          (key, n, m.keys.toSeq.sorted)
      }
      .toDF("key", "n_seen", "candidates")
  }

  /** Collapse a [[heavyHitterStream]] update log: the final
   *  cumulative row per key (largest `n_seen`). */
  def foldHeavyHitterUpdates(updates: DataFrame): DataFrame =
    finalRows(updates, "key", "n_seen", "candidates")

  /** Collapse a [[quantileStream]] update log: the final cumulative
   *  row per key (largest `n_seen`; ties are byte-identical rows —
   *  same sketch state, same quantiles). */
  def foldQuantileUpdates(updates: DataFrame): DataFrame =
    finalRows(updates, "key", "n_seen", "p25", "p50", "p75")

  /** Collapse a [[distinctCountStream]] update log: the final
   *  cumulative row per key is the one with the largest `n_seen`. */
  def foldDistinctCountUpdates(updates: DataFrame): DataFrame =
    finalRows(updates, "key", "n_seen", "estimate")

  /**
   * Streaming distribution-drift monitor: per key, an EXACT fixed-bin
   * histogram of `valueCol` accumulates in the state store (one long
   * per bin — constant state for an unbounded stream), and each batch
   * emits the Population Stability Index of the observed distribution
   * against the caller's reference proportions — the "has the metric's
   * SHAPE moved since training" alarm, incrementally.
   *
   * Binning: `bin(v) = #{edges e : v ≥ e}` — `binEdges` must be
   * strictly increasing; `refProps` has `binEdges.length + 1` entries
   * (they should sum to 1). PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ) with both
   * proportions floored at 1e-6 (the standard zero-bin clamp). The
   * bin COUNTS are exact integers — engine-independent and the thing
   * gates hash; PSI is libm arithmetic for the caller's dashboard.
   *
   * Output per batch: (key, n_seen, counts, psi) — `counts` the full
   * per-bin array. Fold the update log with [[foldDriftUpdates]].
   *
   * Scale posture: state is `bins` longs per key; each batch touches
   * only the keys present in it; emission is one row per touched key.
   */
  def driftStream(df: DataFrame, keyCol: String, valueCol: String,
                  binEdges: Array[Double], refProps: Array[Double])
  : DataFrame = {
    require(binEdges.nonEmpty && binEdges.sameElements(binEdges.sorted),
      "binEdges must be non-empty and ascending")
    require(refProps.length == binEdges.length + 1,
      s"refProps needs ${binEdges.length + 1} entries, got ${refProps.length}")
    val spark = df.sparkSession
    import spark.implicits._
    val bins = binEdges.length + 1
    val ds = df
      .filter(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).cast("string"), col(valueCol).cast("double"))
      .as[(String, Double)]
    ds.groupByKey(_._1)
      .mapGroupsWithState[Array[Long], (String, Long, Seq[Long], Double)](
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Double)],
         state: GroupState[Array[Long]]) =>
          val counts = state.getOption.getOrElse(new Array[Long](bins))
          rows.foreach { case (_, v) =>
            counts(binEdges.count(v >= _)) += 1
          }
          state.update(counts)
          val n = counts.sum
          val psi = (0 until bins).map { i =>
            val p = math.max(counts(i).toDouble / n, 1e-6)
            val q = math.max(refProps(i), 1e-6)
            (p - q) * math.log(p / q)
          }.sum
          (key, n, counts.toSeq, psi)
      }
      .toDF("key", "n_seen", "counts", "psi")
  }

  /** Last update per key of a [[driftStream]] run (n_seen is monotone). */
  def foldDriftUpdates(updates: DataFrame): DataFrame =
    finalRows(updates, "key", "n_seen", "counts", "psi")

  /**
   * Log compaction as incremental keyed state: emit an event iff its
   * `stateCol` differs (null-safe) from the actor's PREVIOUS event —
   * the streaming form of
   * [[graft.ops.TimeSeries.compressConsecutive]], with the last value
   * carried across micro-batches in one string of state. A null state
   * is a value like any other: it is kept, and it is a change point
   * when the previous state was not null. Order contract and replay
   * safety: [[sortedRecurrence]] (duplicates dedup by (actor, tie)).
   *
   * Output per batch: (actor, tie, ts_micros, state) for every
   * change point in the batch.
   */
  def compactStream(df: DataFrame, actorCol: String, tsCol: String,
                    tieCol: String, stateCol: String): DataFrame =
    sortedRecurrence(df, actorCol, tsCol, tieCol, col(stateCol).cast("string"),
      Nil, compact, "actor", "tie", "ts_micros", "state")

  private[streaming] val compact =
    new Recurrence[String, (Boolean, String), (Long, Long, Long, String)](
      (false, null),
      (key, ts, tie, v, s, emit) => {
        val (seen, last) = s
        if (!seen || last != v) emit((key, tie, ts, v))
        (true, v)
      })

  /** Collapse a [[compactStream]] update log (same dedup rationale as
   *  [[foldEwmaUpdates]]: duplicates carry identical values). */
  def foldCompactUpdates(updates: DataFrame): DataFrame =
    updates.groupBy(col("actor"), col("tie"))
      .agg(max(col("ts_micros")).as("ts_micros"),
        max(col("state")).as("state"))

  /** Collapse an [[ewmaStream]] update log: replay duplicates carry
   *  identical values, so `max` per (actor, tie) is an any-value
   *  dedup, not an aggregation. */
  def foldEwmaUpdates(updates: DataFrame): DataFrame =
    updates.groupBy(col("actor"), col("tie"))
      .agg(max(col("ts_micros")).as("ts_micros"),
        max(col("value")).as("value"), max(col("ewma")).as("ewma"))

  /**
   * Streaming one-sided CUSUM ([[graft.ops.TimeSeries.cusum]]'s
   * incremental form): per-key state is the EXACT pair (prefix sum,
   * running min of prefix sums) carried in integer CENTS — two longs
   * per key, constant state (~312 bytes/key all-in, flat 16k → 1M
   * keys by the round-15 probe; 1M keys ≈ 320 MB of store), and
   * bit-identical to the batch prefix-sum identity under the
   * [[sortedRecurrence]] order contract. Values, target, slack and
   * threshold all snap via [[graft.core.Snap.cents]] — bit-identical
   * to the batch path's double→decimal(18,2) cast (both round HALF_UP
   * on the shortest decimal string), the one snap convention
   * documented on [[graft.ops.TimeSeries.cusum]]. The [[ewmaStream]]
   * shape but with NO float in the state at all.
   *
   * Emits one row per processed event (Update mode); the log folds
   * exactly per (actor, tie) ([[foldCusumUpdates]]).
   */
  def cusumStream(df: DataFrame, actorCol: String, tsCol: String,
                  tieCol: String, valueCol: String, target: Double,
                  slack: Double, threshold: Double): DataFrame =
    sortedRecurrence(df, actorCol, tsCol, tieCol, col(valueCol).cast("double"),
      Seq(valueCol), cusum(target, slack, threshold),
      "actor", "tie", "ts_micros", "value", "cusum", "alarm")

  private[streaming] def cusum(target: Double, slack: Double, threshold: Double) = {
    val muC = cents(target)
    val kC = cents(slack)
    val hC = cents(threshold)
    // (prefix sum, min prefix) in cents; min starts at P₀ = 0
    new Recurrence[Double, (Long, Long), (Long, Long, Long, Double, Double, Boolean)](
      (0L, 0L),
      (key, ts, tie, v, s, emit) => {
        val xc = cents(v)
        val p = s._1 + (xc - muC - kC)
        val m = math.min(s._2, p)
        val sv = p - m
        emit((key, tie, ts, xc / 100.0, sv / 100.0, sv > hC))
        (p, m)
      })
  }

  /**
   * Streaming Page-Hinkley ([[graft.ops.TimeSeries.pageHinkley]]'s
   * incremental form): per-key state is (n, Σcents, m, min m,
   * latched alarm index) — two exact longs, two doubles produced by
   * the SAME pinned sequential chain as the batch fold (the Σcents
   * long converts exactly to the batch's double sum below 2⁵³), and
   * one latch long. Batch ≡ stream under the [[sortedRecurrence]]
   * order contract. Values snap via the ONE cents convention; δ and λ
   * are 10⁻⁹-grid literals in grid units.
   *
   * Emits one row per processed event (Update mode) carrying the
   * state AFTER that event; the log folds exactly per key
   * ([[foldPageHinkleyUpdates]] — the max-n row IS the final state).
   */
  def pageHinkleyStream(df: DataFrame, actorCol: String, tsCol: String,
                        tieCol: String, valueCol: String, delta: Double,
                        lambda: Double): DataFrame = {
    require(lambda > 0, s"lambda must be > 0, got $lambda")
    sortedRecurrence(df, actorCol, tsCol, tieCol, col(valueCol).cast("double"),
      Seq(valueCol), pageHinkley(delta, lambda),
      "actor", "tie", "ts_micros", "n", "mean", "ph", "alarm_at")
  }

  private[streaming] def pageHinkley(delta: Double, lambda: Double) = {
    val dC = r9(delta * 100.0)
    val lamC = r9(lambda * 100.0)
    new Recurrence[Double, (Long, Long, Double, Double, Long),
      (Long, Long, Long, Long, Double, Double, Long)](
      (0L, 0L, 0.0, 0.0, 0L),
      (key, ts, tie, v, s, emit) => {
        var (n, sumC, m, minM, alarmAt) = s
        val xc = cents(v)
        n += 1L; sumC += xc
        val mean = sumC.toDouble / n.toDouble
        m += xc.toDouble - mean - dC
        minM = math.min(minM, m)
        val ph = m - minM
        if (alarmAt == 0L && ph > lamC) alarmAt = n
        emit((key, tie, ts, n, mean / 100.0, ph / 100.0, alarmAt))
        (n, sumC, m, minM, alarmAt)
      })
  }

  /** Collapse a [[pageHinkleyStream]] update log to the batch
   *  [[graft.ops.TimeSeries.pageHinkley]] shape: the max-n row per
   *  actor carries the final state (the alarm index is latched, so
   *  the final value is also the max; 0 folds to null = never). */
  def foldPageHinkleyUpdates(updates: DataFrame): DataFrame =
    finalRows(updates, "actor", "n", "mean", "ph", "alarm_at")
      .withColumn("alarm_at", when(col("alarm_at") > 0L, col("alarm_at")))

  /**
   * Streaming MACD ([[graft.ops.TimeSeries.macd]]'s incremental
   * form, the 13th keyed-state operator): per-key state is
   * (n, ef, es, sg) — one long and the three EMA registers, each
   * advanced by the SAME pinned `e + α(x − e)` chain as the batch
   * fold with `α = 2/(span+1)` computed from the spans at runtime
   * (correctly-rounded division — identical to the batch Column
   * arithmetic). Seeds: ef = es = x₀ (so macd₀ = +0 exactly) and
   * sg = macd₀. Batch ≡ stream under the [[sortedRecurrence]] order
   * contract.
   *
   * Emits one row per processed event (Update mode) carrying the
   * registers AFTER that event; the log folds exactly per key
   * ([[foldMacdUpdates]] — the max-n row IS the final state).
   *
   * Scale posture: O(1) state per key (~40 bytes + key), the
   * measured flat-per-key class of the streaming family.
   */
  def macdStream(df: DataFrame, actorCol: String, tsCol: String,
                 tieCol: String, valueCol: String, fastSpan: Int = 12,
                 slowSpan: Int = 26, signalSpan: Int = 9): DataFrame = {
    require(fastSpan > 0 && slowSpan > fastSpan && signalSpan > 0,
      "need 0 < fastSpan < slowSpan and signalSpan > 0")
    sortedRecurrence(df, actorCol, tsCol, tieCol, col(valueCol).cast("double"),
      Seq(valueCol), macd(fastSpan, slowSpan, signalSpan),
      "actor", "tie", "ts_micros", "value", "n", "macd", "signal", "histogram")
  }

  private[streaming] def macd(fastSpan: Int, slowSpan: Int, signalSpan: Int) = {
    val af = 2.0 / (fastSpan.toDouble + 1.0)
    val as = 2.0 / (slowSpan.toDouble + 1.0)
    val ag = 2.0 / (signalSpan.toDouble + 1.0)
    new Recurrence[Double, (Long, Double, Double, Double),
      (Long, Long, Long, Double, Long, Double, Double, Double)](
      (0L, 0.0, 0.0, 0.0),
      (key, ts, tie, v, s, emit) => {
        var (n, ef, es, sg) = s
        if (n == 0L) { ef = v; es = v; sg = v - v }
        else {
          ef += af * (v - ef)
          es += as * (v - es)
          sg += ag * (ef - es - sg)
        }
        n += 1L
        emit((key, tie, ts, v, n, ef - es, sg, ef - es - sg))
        (n, ef, es, sg)
      })
  }

  /** Collapse a [[macdStream]] update log to one final-state row per
   *  actor: the max-n row carries the final registers. */
  def foldMacdUpdates(updates: DataFrame): DataFrame =
    finalRows(updates, "actor", "n", "macd", "signal", "histogram")

  /**
   * Streaming Holt linear-trend smoothing
   * ([[graft.ops.TimeSeries.holtLinear]]'s incremental form, the
   * 14th keyed-state operator): per-key state is (n, level, trend)
   * — one long and two doubles advanced by the SAME pinned chains
   * as the batch fold (`l' = α·x + (1−α)(l+b)`,
   * `b' = β(l'−l) + (1−β)b`, seeds l = x₀, b = 0, complements
   * computed in-expression and α/β snapped to the 9-decimal grid —
   * the q327 discipline). Batch ≡ stream under the
   * [[sortedRecurrence]] order contract.
   *
   * Emits one row per processed event (Update mode) carrying the
   * state AFTER that event plus the `horizon`-step forecast
   * `l + h·b`; the log folds exactly per key ([[foldHoltUpdates]]
   * — the max-n row IS the final state).
   *
   * Scale posture: O(1) state per key (~32 bytes + key), the
   * measured flat-per-key class of the streaming family.
   */
  def holtStream(df: DataFrame, actorCol: String, tsCol: String,
                 tieCol: String, valueCol: String, alpha: Double,
                 beta: Double, horizon: Int = 1): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    require(beta > 0 && beta <= 1, s"beta in (0,1], got $beta")
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    sortedRecurrence(df, actorCol, tsCol, tieCol, col(valueCol).cast("double"),
      Seq(valueCol), holt(alpha, beta, horizon),
      "actor", "tie", "ts_micros", "value", "n", "level", "trend", "forecast")
  }

  private[streaming] def holt(alpha: Double, beta: Double, horizon: Int) = {
    val a = r9(alpha); val bb = r9(beta)
    val h = horizon.toDouble
    new Recurrence[Double, (Long, Double, Double),
      (Long, Long, Long, Double, Long, Double, Double, Double)](
      (0L, 0.0, 0.0),
      (key, ts, tie, v, s, emit) => {
        var (n, l, tr) = s
        if (n == 0L) { l = v; tr = 0.0 }
        else {
          val l2 = a * v + (1.0 - a) * (l + tr)
          tr = bb * (l2 - l) + (1.0 - bb) * tr
          l = l2
        }
        n += 1L
        emit((key, tie, ts, v, n, l, tr, l + h * tr))
        (n, l, tr)
      })
  }

  /** Collapse a [[holtStream]] update log to the batch
   *  [[graft.ops.TimeSeries.holtLinear]] shape: the max-n row per
   *  actor carries the final state. */
  def foldHoltUpdates(updates: DataFrame): DataFrame =
    finalRows(updates, "actor", "n", "level", "trend", "forecast")

  /**
   * Streaming forecast tracking signal
   * ([[graft.ops.TimeSeries.trackingSignal]]'s incremental form,
   * the 15th keyed-state operator): per-key state is (n, Σe, Σ|e|)
   * — three longs, all exact INTEGER CENTS (no float drifts in the
   * store), advanced per event; the emitted row closes
   * `cum_error = Σe/10ˢ`, `MAD = Σ|e|/n/10ˢ`,
   * `TS = Σe/(Σ|e|/n)` with the batch operator's pinned chains, so
   * the max-n row per key equals the batch result bit-for-bit on
   * any feed chunking (the sums are order-free — the strongest
   * parity in the family; the [[sortedRecurrence]] order contract
   * only orders the per-event rows). The live form of the ±4
   * control-limit re-fit trigger for per-key forecast fleets.
   *
   * Emits one row per processed event (Update mode); the log folds
   * per key via [[foldTrackingUpdates]]. Rows with a null actor,
   * ts, tie, actual, or forecast are dropped (the fold-family null
   * contract). The batch operator takes no ts or tie and is
   * order-free, so it COUNTS a row whose ts or tie is null: batch ≡
   * stream holds only on feeds without such rows.
   *
   * Scale posture: O(1) state per key (24 bytes + key), the
   * measured flat-per-key class of the streaming family.
   */
  def trackingSignalStream(df: DataFrame, actorCol: String,
                           tsCol: String, tieCol: String,
                           actualCol: String, forecastCol: String,
                           valueScale: Int = 2): DataFrame =
    sortedRecurrence(df, actorCol, tsCol, tieCol,
      struct(unscaled(col(actualCol), valueScale).as("_1"),
        unscaled(col(forecastCol), valueScale).as("_2")),
      Seq(actualCol, forecastCol), trackingSignal(valueScale),
      "actor", "tie", "ts_micros", "n", "cum_error", "mad", "tracking_signal")

  private[streaming] def trackingSignal(valueScale: Int) = {
    val scaleF = math.pow(10, valueScale)
    new Recurrence[(Long, Long), (Long, Long, Long),
      (Long, Long, Long, Long, Double, Double, Option[Double])](
      (0L, 0L, 0L),
      (key, ts, tie, v, s, emit) => {
        var (n, se, sae) = s
        val e = v._1 - v._2
        n += 1L; se += e; sae += math.abs(e)
        val ts0 =
          if (sae > 0L) Some(se.toDouble / (sae.toDouble / n.toDouble))
          else None
        emit((key, tie, ts, n, se.toDouble / scaleF,
          sae.toDouble / n.toDouble / scaleF, ts0))
        (n, se, sae)
      })
  }

  /** Collapse a [[trackingSignalStream]] update log to the batch
   *  [[graft.ops.TimeSeries.trackingSignal]] shape: the max-n row
   *  per actor carries the final state. */
  def foldTrackingUpdates(updates: DataFrame): DataFrame =
    finalRows(updates, "actor", "n", "cum_error", "mad", "tracking_signal")

  /**
   * Streaming bottom-k coordinated sample
   * ([[graft.llm.Sampling.bottomKByHash]]'s incremental form, the
   * 16th keyed-state operator): per-key state is the running count
   * plus the ≤ k smallest `(md5i(id), id)` pairs — a MERGEABLE
   * sketch, so batch ≡ stream holds EXACTLY on any feed chunking
   * (bottom-k of unions = bottom-k of bottom-k's; no order contract
   * needed at all — the strongest parity in the family, shared with
   * [[trackingSignalStream]]). The live form of "keep a stable
   * uniform sample of every key's ids" for monitoring and
   * coordinated cross-day sampling.
   *
   * The hash is computed IN the stream's select (the cross-engine
   * md5 prefix), so the state never depends on JVM hashing. Emits
   * one row per key per batch with the CURRENT sample (ids in
   * (hash, id) order) and rows-processed count; the log folds per
   * key via [[foldBottomKUpdates]]. Null actor/id rows are dropped.
   *
   * Scale posture: O(k) state per key (~16k bytes at k ids + key),
   * bounded by construction.
   */
  def bottomKStream(df: DataFrame, actorCol: String, idCol: String,
                    k: Int, salt: String = ""): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val h = graft.llm.TextAnalysis.md5i(
      concat(col(idCol).cast("string"), lit(salt)))
    val ds = df
      .filter(col(actorCol).isNotNull && col(idCol).isNotNull)
      .select(col(actorCol).cast("long"), col(idCol).cast("long"),
        h.cast("long"))
      .as[(Long, Long, Long)]
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Seq[(Long, Long)]),
        (Long, Long, Seq[Long])](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Seq[(Long, Long)])]) =>
          var (nSeen, samp) = state.getOption
            .getOrElse((0L, Seq.empty[(Long, Long)]))
          val buf = rows.toSeq
          nSeen += buf.size
          samp = (samp ++ buf.map(r => (r._3, r._2)))
            .distinct.sorted.take(k)
          state.update((nSeen, samp))
          Iterator((key, nSeen, samp.map(_._2)))
      }
      .toDF("actor", "n_seen", "ids")
  }

  /** Collapse a [[bottomKStream]] update log to the final sample per
   *  actor: the max-n_seen row carries the final state. */
  def foldBottomKUpdates(updates: DataFrame): DataFrame =
    finalRows(updates, "actor", "n_seen", "ids")

  /**
   * Streaming TWAP ([[graft.ops.TimeSeries.twap]]'s incremental form):
   * per-key state is (bucket, last tick time, last cents, Σ cents·µs,
   * Σ µs, tick count) — six longs, constant per key, all integer (NO
   * float in the state). Measured all-in store cost (round-15 probe,
   * PLANS.md): ~366 bytes/key FLAT from 16k to 1M keys (row object +
   * key + HDFS-backed store overhead around the 48 B of longs) —
   * 1M keys ≈ 376 MB of state, ~1.2 s/trigger on 16 local threads;
   * size executors as keys/executor × ~0.5 KB or switch the store
   * provider to RocksDB (config, not code). A bucket's row emits EXACTLY ONCE, when a
   * later tick rolls the key past it (the final holding segment closes
   * to the bucket edge, the batch contract) — so emitted rows are
   * FINAL and the update log folds as a pure dedup. Each key's LAST
   * bucket never emits (the stream cannot know the feed ended);
   * batch ≡ stream on every CLOSED bucket, asserted in the gate by
   * filtering the batch result to `bucket < max(bucket) per key`.
   *
   * `carryIn = true` switches to PREVAILING-QUOTE semantics
   * ([[graft.ops.TimeSeries.twapCarry]]'s stream arm, batch ≡ stream
   * likewise): buckets a hold fully spans emit the held price with
   * n_ticks = 0, and a tick's bucket opens with the carried segment
   * from the bucket start — the market-data reading. Default stays
   * the trades-only no-carry contract. `maxBucketsPerHold` caps the
   * per-hold carried-row explosion (the batch arm's cap verbatim): a
   * key silent for a year at minute buckets would otherwise emit
   * ~525k rows on its next tick — past the cap the query fails fast
   * naming the offending hold; split long holds upstream or use a
   * coarser unit.
   *
   * Order contract: [[sortedRecurrence]]. Values snap to cents via
   * the ONE snap convention ([[graft.core.Snap.cents]] ≡ the batch
   * double→decimal cast). A null tie is dropped like a null ts, as
   * the batch arms do: it has no place in the (ts, tie) order.
   *
   * Emits (actor, bucket_us, n_ticks, twap).
   */
  def twapStream(df: DataFrame, actorCol: String, tsCol: String,
                 tieCol: String, valueCol: String,
                 unitMicros: Long, carryIn: Boolean = false,
                 maxBucketsPerHold: Int = 100000): DataFrame = {
    require(unitMicros > 0, s"unitMicros must be > 0, got $unitMicros")
    require(maxBucketsPerHold >= 1,
      s"maxBucketsPerHold must be >= 1, got $maxBucketsPerHold")
    sortedRecurrence(df, actorCol, tsCol, tieCol, col(valueCol).cast("double"),
      Seq(valueCol), twap(unitMicros, carryIn, maxBucketsPerHold),
      "actor", "bucket_us", "n_ticks", "twap")
  }

  private[streaming] def twap(unitMicros: Long, carryIn: Boolean,
                              maxBucketsPerHold: Int) =
    // (bucket, lastT, lastVc, accVw, accW, n); bucket Long.MinValue =
    // empty, since a pre-1970 bucket is negative (a stored state is
    // never empty, so checkpoints from the old -1 sentinel restart as is)
    new Recurrence[Double, (Long, Long, Long, Long, Long, Long),
      (Long, Long, Long, Double)](
      (Long.MinValue, 0L, 0L, 0L, 0L, 0L),
      (key, t, _, v, s, emit) => {
        var (b, lastT, lastVc, vw, w, n) = s
        val vc = cents(v)
        val b2 = t - java.lang.Math.floorMod(t, unitMicros)
        if (b == Long.MinValue) { b = b2; lastT = t; lastVc = vc; vw = 0L
          w = 0L; n = 1L }
        else if (b2 == b) {
          vw += lastVc * (t - lastT); w += t - lastT
          lastT = t; lastVc = vc; n += 1L
        } else {
          // close bucket b to its edge and emit the FINAL row
          val edge = b + unitMicros
          vw += lastVc * (edge - lastT); w += edge - lastT
          emit((key, b, n, vw.toDouble / w.toDouble / 100.0))
          if (carryIn) {
            // prevailing-quote carry: every bucket the hold
            // fully spans emits the held price (n_ticks = 0,
            // the batch twapCarry closing division verbatim),
            // and the tick's bucket opens with the carried
            // segment from its own start. Same cap as the
            // batch arm: a hold spanning more buckets than
            // maxBucketsPerHold fails fast instead of emitting
            // hundreds of thousands of carried rows per tick.
            val spans = (b2 - edge) / unitMicros + 1L
            if (spans > maxBucketsPerHold)
              throw new IllegalStateException(
                s"twapStream(carryIn): key $key hold from " +
                  s"t=$lastT us spans $spans buckets > " +
                  s"maxBucketsPerHold=$maxBucketsPerHold; split " +
                  "long holds upstream or use a coarser unit")
            var ib = edge
            while (ib + unitMicros <= b2) {
              val fvw = lastVc * unitMicros
              emit((key, ib, 0L,
                fvw.toDouble / unitMicros.toDouble / 100.0))
              ib += unitMicros
            }
            b = b2; vw = lastVc * (t - b2); w = t - b2
            lastT = t; lastVc = vc; n = 1L
          } else {
            b = b2; lastT = t; lastVc = vc; vw = 0L; w = 0L; n = 1L
          }
        }
        (b, lastT, lastVc, vw, w, n)
      })

  /** Collapse a [[twapStream]] update log: emitted rows are final
   *  (one per closed bucket), so `max` per (actor, bucket) is a pure
   *  replay dedup. */
  def foldTwapUpdates(updates: DataFrame): DataFrame =
    updates.groupBy(col("actor"), col("bucket_us"))
      .agg(max(col("n_ticks")).as("n_ticks"), max(col("twap")).as("twap"))

  /** Collapse a [[cusumStream]] update log: one row per (actor, tie)
   *  (duplicates from replays carry identical values, so `max` is a
   *  pure dedup). */
  def foldCusumUpdates(updates: DataFrame): DataFrame =
    updates.groupBy(col("actor"), col("tie"))
      .agg(max(col("ts_micros")).as("ts_micros"),
        max(col("value")).as("value"), max(col("cusum")).as("cusum"),
        max(col("alarm")).as("alarm"))

  /**
   * Collapse a [[transitionsStream]] update log to the batch
   * [[graft.ops.TimeSeries.transitionMatrix]] shape: cumulative
   * per-actor counts fold with `max` (nondecreasing ⇒ order- and
   * replay-duplicate-free), then sum across actors and row-normalize.
   */
  def foldTransitionUpdates(updates: DataFrame): DataFrame = {
    val perActor = updates
      .groupBy(col("actor"), col("from_state"), col("to_state"))
      .agg(max(col("n")).as("__n"))
    val counts = perActor.groupBy(col("from_state"), col("to_state"))
      .agg(sum("__n").as("n"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_state"))
    counts
      .withColumn("p",
        col("n").cast("double") / sum("n").over(wf).cast("double"))
      .select(col("from_state"), col("to_state"), col("n"), col("p"))
  }
}
