package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

import graft.TestSpark

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  test("tumbling window aggregation over a memory stream with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData((ts(0), "a", 1.0), (ts(1), "a", 2.0), (ts(10), "a", 5.0))
    val windowed = Streaming.tumbling(
      Streaming.withWatermark(
        stream.toDF.toDF("ts", "k", "v"), "ts", "5 minutes"),
      "ts", "10 minutes", Seq(col("k")),
      Seq(count(lit(1)).as("n"), sum(col("v")).as("total")))
    val q = Streaming.memorySink(windowed, "tumbling_test")
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT k, n, total FROM tumbling_test ORDER BY total")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq(("a", 2L, 3.0), ("a", 1L, 5.0)))
  }

  test("rateStream: streaming frame with the rate-source schema") {
    val df = Streaming.rateStream(spark, rowsPerSecond = 1)
    assert(df.isStreaming)
    assert(df.columns.toSeq == Seq("timestamp", "value"))
  }

  test("runBatchAsStream: file-source micro-batch agg equals the batch result") {
    val dir = TestSpark.tempDir("graft_stream_files")
    val data = Seq((ts(0), "a", 1.0), (ts(1), "a", 2.0), (ts(10), "b", 5.0),
      (ts(70), "a", 7.0)).toDF("ts", "k", "v")
    data.write.mode("overwrite").parquet(dir)
    val agg: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.groupBy(window(col("ts"), "1 hour"), col("k"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
    val streamed = Streaming.runBatchAsStream(spark, dir, data.schema, agg,
      s"rbas_${System.nanoTime}")
    assert(TestSpark.rows(streamed.select(col("window.start"), col("k"), col("n"), col("total")))
      == TestSpark.rows(agg(data).select(col("window.start"), col("k"), col("n"), col("total"))))
  }

  test("runBatchAsStreamFiles: append agg lands in parquet, no driver collect") {
    val dir = TestSpark.tempDir("graft_stream_fsink")
    // ts(0)/ts(1) fall in a closed window once ts(200) drives the
    // watermark (max − 65 min) past that window's end; ts(200)'s own
    // window never closes and must NOT be emitted (append contract)
    val data = Seq((ts(0), "a", 1.0), (ts(1), "a", 2.0), (ts(200), "a", 9.0))
      .toDF("ts", "k", "v")
    data.write.mode("overwrite").parquet(s"$dir/in")
    val res = Streaming.runBatchAsStreamFiles(spark, s"$dir/in", data.schema,
      df => df.withWatermark("ts", "65 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("k"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total")),
      dir = s"$dir/run", statePartitions = Some(2))
    val rows = res.select(col("k"), col("n"), col("total")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq(("a", 2L, 3.0)))
    // the result is FILE-backed: the sink directory holds it
    assert(spark.read.parquet(s"$dir/run/out").count() == 1)
  }

  test("runUpdateStreamFiles: update emissions append to the file log; max-per-key folds to the batch count") {
    val dir = TestSpark.tempDir("graft_stream_upd")
    // two files = two micro-batches (maxFilesPerTrigger=1): key "a"
    // emits an update in EACH batch (2 then 3), so the log holds both
    // rows and max-per-key is the final running count
    Seq(("a", 1L), ("a", 1L), ("b", 1L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    Seq(("a", 1L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val res = Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
      df => Streaming.runningCount(df.as[(String, Long)]).toDF(),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val byKey = res.groupBy("key").agg(max("count").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKey == Map("a" -> 3L, "b" -> 1L))
    // the log is append-only across batches: "a" appears once per batch
    assert(res.filter(col("key") === "a").count() == 2)
  }

  test("runUpdateStreamFiles: a crash-replayed batch overwrites itself — no double-count") {
    val dir = TestSpark.tempDir("graft_stream_replay")
    val out = s"$dir/out"
    val b0 = Seq(("a", 1L), ("b", 1L)).toDF("key", "count")
    val b1 = Seq(("a", 2L)).toDF("key", "count")
    Streaming.writeUpdateBatch(out)(b0, 0L)
    Streaming.writeUpdateBatch(out)(b1, 1L)
    // foreachBatch is at-least-once: batch 1 replays after a crash
    Streaming.writeUpdateBatch(out)(b1, 1L)
    val log = spark.read.schema(b0.schema)
      .option("recursiveFileLookup", "true").parquet(out)
    // exactly one row per (batch, key-update): a sum-fold over the log
    // must NOT see the replayed batch twice
    assert(log.count() == 3)
    assert(log.groupBy("key").agg(sum("count").as("s")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("a" -> 3L, "b" -> 1L))
  }

  test("runUpdateStreamFiles: zero batches yields a typed empty frame") {
    val dir = TestSpark.tempDir("graft_stream_upd0")
    Seq.empty[(String, Long)].toDF("k", "v").write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val res = Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
      df => Streaming.runningCount(df.as[(String, Long)]).toDF(),
      dir = s"$dir/run")
    assert(res.columns.toSeq == Seq("key", "count"))
    assert(res.count() == 0)
  }

  test("runBatchAsStreamFiles: zero emitted rows still yields a typed empty frame") {
    val dir = TestSpark.tempDir("graft_stream_fsink0")
    val data = Seq((ts(0), "a", 1.0)).toDF("ts", "k", "v")
    data.write.mode("overwrite").parquet(s"$dir/in")
    // single event: watermark stays below every window end → nothing
    // finalizes, but the returned frame still carries the agg schema
    val res = Streaming.runBatchAsStreamFiles(spark, s"$dir/in", data.schema,
      df => df.withWatermark("ts", "65 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("k"))
        .agg(count(lit(1)).as("n")),
      dir = s"$dir/run")
    assert(res.columns.toSeq == Seq("window", "k", "n"))
    assert(res.count() == 0)
  }

  test("session window: gap >= 30min starts a new session (batch = streaming code)") {
    val df = Seq(
      (1L, ts(0)), (1L, ts(10)),  // session 1
      (1L, ts(45)),               // 35min gap → session 2
      (2L, ts(0)))                // other user
      .toDF("user_id", "ts")
    val out = Streaming.session(df, "ts", "30 minutes",
      Seq(col("user_id")), Seq(count(lit(1)).as("n")))
    assert(out.count() == 3)
    val u1 = out.filter(col("user_id") === 1L)
      .select(col("session_window.start"), col("n")).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    assert(u1 == Set((ts(0), 2L), (ts(45), 1L)))
  }

  test("session window in STREAMING mode merges and splits sessions across batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp)]
    val sessions = Streaming.session(
      Streaming.withWatermark(stream.toDF.toDF("user_id", "ts"), "ts", "2 hours"),
      "ts", "30 minutes", Seq(col("user_id")), Seq(count(lit(1)).as("n")))
    val q = sessions.writeStream.format("memory").queryName("session_stream")
      .outputMode("complete").start()
    stream.addData((1L, ts(0)), (1L, ts(10)))
    stream.addData((1L, ts(20)), (1L, ts(55)))  // 20 merges; 55 is 35min after 20 → new
    q.processAllAvailable(); q.stop()
    val rows = spark.sql(
      "SELECT session_window.start, n FROM session_stream WHERE user_id = 1")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    assert(rows == Set((ts(0), 3L), (ts(55), 1L)))
  }

  test("stream-stream interval join matches within tolerance, streaming mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def ts(offsetSec: Long) = new java.sql.Timestamp(t0 + offsetSec * 1000)
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val views = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = Streaming.intervalJoin(
      clicks.toDF.toDF("user", "ts"), views.toDF.toDF("user", "vts"),
      Seq("user"), "ts", "vts", delay = "1 hour", tolerance = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("sj")
      .outputMode("append").start()
    clicks.addData((1L, ts(0)), (2L, ts(0)))
    views.addData((1L, ts(300)),   // +5 min → matches
      (2L, ts(1200)),              // +20 min → outside tolerance
      (1L, ts(-300)))              // −5 min → matches
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT user, r_vts FROM sj").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(1L, 1L)) // only user 1, twice
    // batch mode, same call: identical matching semantics
    val batch = Streaming.intervalJoin(
      Seq((1L, ts(0))).toDF("user", "ts"), Seq((1L, ts(540)), (1L, ts(700))).toDF("user", "vts"),
      Seq("user"), "ts", "vts", delay = "1 hour", tolerance = "10 minutes")
    assert(batch.count() == 1) // +9 min in, +11:40 out
  }

  test("runningCount keeps per-key state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Long)]
    val counts = Streaming.runningCount(stream.toDS())
    val q = counts.writeStream.format("memory").queryName("running_test")
      .outputMode("update").start()
    stream.addData(("a", 2L), ("b", 1L)); q.processAllAvailable()
    stream.addData(("a", 3L)); q.processAllAvailable()
    q.stop()
    val last = spark.sql(
      "SELECT key, max(count) AS c FROM running_test GROUP BY key")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(last == Map("a" -> 5L, "b" -> 1L))
  }

  test("runningCount under the RocksDB state store matches the default provider") {
    implicit val sqlCtx = spark.sqlContext
    // the conf demonstrably takes effect: a bogus provider class must
    // fail query startup...
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "does.not.Exist")
    try {
      val s0 = MemoryStream[(String, Long)]
      val q0 = Streaming.runningCount(s0.toDS()).writeStream
        .format("memory").queryName("rocks_bogus").outputMode("update").start()
      s0.addData(("a", 1L))
      intercept[Exception] { q0.processAllAvailable() }
      q0.stop()
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // ...and the RocksDB run succeeds with identical results
    Streaming.withRocksDbStateStore(spark) {
      val stream = MemoryStream[(String, Long)]
      val q = Streaming.runningCount(stream.toDS()).writeStream
        .format("memory").queryName("rocks_test").outputMode("update").start()
      stream.addData(("a", 2L), ("b", 1L)); q.processAllAvailable()
      stream.addData(("a", 3L)); q.processAllAvailable()
      q.stop()
    }
    val last = spark.sql(
      "SELECT key, max(count) AS c FROM rocks_test GROUP BY key")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(last == Map("a" -> 5L, "b" -> 1L))
    // provider restored for the rest of the suite
    assert(spark.conf.getOption(key) == prev)
  }

  test("runUpdateStreamFiles under RocksDB restarts from its checkpoint: " +
    "a second run on the same dir continues the recovered counts") {
    val dir = TestSpark.tempDir("graft_stream_restart")
    Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    def run(): Set[(String, Long)] = Streaming.withRocksDbStateStore(spark) {
      Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
        df => Streaming.runningCount(df.as[(String, Long)]).toDF(),
        dir = s"$dir/run", statePartitions = Some(2))
        .as[(String, Long)].collect().toSet
    }
    val first = run()
    assert(first == Set("a" -> 4L, "b" -> 2L))
    // the state snapshot of the first run is what the second one loads
    import scala.jdk.CollectionConverters._
    val state = java.nio.file.Paths.get(s"$dir/run/chk/state/0")
    assert(java.nio.file.Files.walk(state).iterator().asScala
      .exists(_.getFileName.toString.endsWith(".zip")))
    Seq(("a", 10L), ("c", 5L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val second = run()
    // the log gains only the new batch's updates, counted on from run 1
    // (a fresh state would have emitted a -> 10)
    assert(second -- first == Set("a" -> 14L, "c" -> 5L))
    assert(second.size == first.size + 2)
  }

  test("dedupStreamTtl: first occurrence passes, repeats drop, TTL expiry readmits") {
    implicit val sqlCtx = spark.sqlContext
    // A processing-time transformWithState query never self-terminates
    // (continuous maintenance micro-batches — see the operator doc),
    // so the test treats it as the continuous service it is: poll the
    // sink and the input-row counters with a deadline, then stop().
    def until[A](what: String)(probe: => Option[A]): A = {
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      var r = probe
      while (r.isEmpty && System.nanoTime < deadline) { Thread.sleep(50); r = probe }
      r.getOrElse(fail(s"timed out waiting for $what"))
    }
    Streaming.withRocksDbStateStore(spark) { // transformWithState's store
      val stream = MemoryStream[(String, Long)]
      // TTL margins: the horizon runs from phase 1's state WRITE, so a
      // loaded box stalling >TTL between phase 1 and phase 2's
      // processing would expire 'a' early and readmit the phase-2 row
      // (a timing flake, not a product bug). 10 s gives phase 2 a wide
      // margin; phase 3 then sleeps past the full horizon.
      val ttlMs = 10000L
      val q = Streaming.dedupStreamTtl(stream.toDS(),
          java.time.Duration.ofMillis(ttlMs))
        .writeStream.format("memory").queryName("ttl_dedup")
        .outputMode("append").start()
      try {
        def sink() = spark.sql("SELECT _1, _2 FROM ttl_dedup")
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        def inputRows() = q.recentProgress.map(_.numInputRows).sum
        // phase 1: a twice (in-batch dup) + b -> each emitted once
        stream.addData(("a", 1L), ("a", 2L), ("b", 3L))
        until("phase-1 rows")(Some(sink()).filter(_.size >= 2))
        // expiry baseline: 'a's state write happened strictly BEFORE
        // its row became visible here, so writeTime + ttl <= this + ttl
        val phase1At = System.nanoTime
        assert(sink().sortBy(_._2) == Seq(("a", 1L), ("b", 3L)))
        // phase 2 within the TTL horizon: a again -> consumed, dropped
        stream.addData(("a", 4L))
        until("phase-2 consumed")(Some(inputRows()).filter(_ >= 4))
        assert(sink().size == 2)
        // phase 3 past the horizon (sleep until ttl + 0.5 s has elapsed
        // since BEFORE phase 1's write): a's state expired -> readmitted
        val remainMs = ttlMs + 500 - (System.nanoTime - phase1At) / 1000000L
        if (remainMs > 0) Thread.sleep(remainMs)
        stream.addData(("a", 5L))
        until("phase-3 readmit")(Some(sink()).filter(_.size >= 3))
        assert(sink().sortBy(_._2).last == ("a", 5L))
      } finally q.stop()
    }
  }

  test("file stream → parquet sink with checkpoint (AvailableNow)") {
    val dir = TestSpark.tempDir("graft_stream")
    val src = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    src.write.json(s"$dir/in")
    val stream = Streaming.readStream(spark, "json", s"$dir/in", src.schema)
    val q = Streaming.writeStream(stream, "parquet", s"$dir/out", s"$dir/chk")
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(s"$dir/out").count() == 2)
  }

  test("funnelStream: keyed-state funnel across ordered micro-batches == batch funnel") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(t)
    val dir = TestSpark.tempDir("graft_stream_funnel")
    val batch1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (2L, ts("2024-01-01 10:10:00"), "click"),   // before any view: never qualifies
      (3L, ts("2024-01-01 10:20:00"), "view"),
      (3L, ts("2024-01-01 10:20:00"), "click")    // tied with the view: qualifies
    )
    val batch2 = Seq(
      (1L, ts("2024-01-01 11:00:00"), "click"),
      (1L, ts("2024-01-01 11:30:00"), "purchase"),
      (2L, ts("2024-01-01 11:05:00"), "view"),
      (2L, ts("2024-01-01 11:20:00"), "purchase"), // before the qualified click: no
      (2L, ts("2024-01-01 11:40:00"), "click")
    )
    batch1.toDF("user_id", "ts", "event_type")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    batch2.toDF("user_id", "ts", "event_type")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val steps = Seq("view", "click", "purchase")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
      df => Streaming.funnelStream(df, "user_id", "ts", "event_type", steps),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val out = Streaming.foldFunnelUpdates(updates, "user_id", 3)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getTimestamp(1)), Option(r.getTimestamp(2)),
          Option(r.getTimestamp(3)), r.getInt(4)))).toMap
    assert(out(1L) == ((Some(ts("2024-01-01 10:00:00")),
      Some(ts("2024-01-01 11:00:00")), Some(ts("2024-01-01 11:30:00")), 3)))
    assert(out(2L) == ((Some(ts("2024-01-01 11:05:00")),
      Some(ts("2024-01-01 11:40:00")), None, 2)))
    assert(out(3L) == ((Some(ts("2024-01-01 10:20:00")),
      Some(ts("2024-01-01 10:20:00")), None, 2)))
    // parity: identical to the batch operator over the full event set
    val batchOut = graft.ops.TimeSeries.funnel(
      (batch1 ++ batch2).toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", steps)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getTimestamp(1)), Option(r.getTimestamp(2)),
          Option(r.getTimestamp(3)), r.getInt(4)))).toMap
    assert(out == batchOut)
  }

  test("transitionsStream: cross-batch adjacency == batch transition matrix") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(t)
    val dir = TestSpark.tempDir("graft_stream_trans")
    val batch1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), "A", 1L),
      (1L, ts("2024-01-01 10:05:00"), "B", 2L),
      (2L, ts("2024-01-01 10:00:00"), "A", 3L),
      // tie: event_id orders C before D
      (3L, ts("2024-01-01 10:00:00"), "D", 5L),
      (3L, ts("2024-01-01 10:00:00"), "C", 4L))
    val batch2 = Seq(
      (1L, ts("2024-01-01 11:00:00"), "A", 6L), // B→A crosses the batch boundary
      (2L, ts("2024-01-01 11:00:00"), "C", 7L))
    batch1.toDF("user_id", "ts", "event_type", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    batch2.toDF("user_id", "ts", "event_type", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
      df => Streaming.transitionsStream(df, "user_id", "ts", "event_type", "event_id"),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val out = Streaming.foldTransitionUpdates(updates)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      ("A", "B") -> ((1L, 0.5)), ("A", "C") -> ((1L, 0.5)),
      ("B", "A") -> ((1L, 1.0)), ("C", "D") -> ((1L, 1.0))))
    // parity with the batch operator over the full event set
    val batchOut = graft.ops.TimeSeries.transitionMatrix(
      (batch1 ++ batch2).toDF("user_id", "ts", "event_type", "event_id"),
      Seq("user_id"), "ts", "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out == batchOut)
  }

  test("ewmaStream: keyed-state recurrence across batches == batch ewma") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(t)
    val dir = TestSpark.tempDir("graft_stream_ewma")
    val batch1 = Seq((1L, ts("2024-01-01 10:00:00"), 10.0, 1L),
      (1L, ts("2024-01-01 10:05:00"), 20.0, 2L))
    val batch2 = Seq((1L, ts("2024-01-01 11:00:00"), 20.0, 3L),
      (2L, ts("2024-01-01 11:00:00"), 7.0, 4L))
    batch1.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    batch2.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
      df => Streaming.ewmaStream(df, "user_id", "ts", "event_id", "value", 0.5),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val out = Streaming.foldEwmaUpdates(updates)
      .collect().map(r => r.getLong(1) -> r.getDouble(4)).toMap
    // e(1)=10, e(2)=15, then ACROSS the batch boundary e(3)=17.5
    assert(out == Map(1L -> 10.0, 2L -> 15.0, 3L -> 17.5, 4L -> 7.0))
    // parity with the batch operator
    val batchOut = graft.ops.TimeSeries.ewma(
      (batch1 ++ batch2).toDF("user_id", "ts", "value", "event_id"),
      Seq("user_id"), "ts", "event_id", "value", 0.5)
      .collect().map(r => r.getLong(1) -> r.getDouble(4)).toMap
    assert(out == batchOut)
  }

  test("compactStream: change points across batch boundaries == batch compaction") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(t)
    val dir = TestSpark.tempDir("graft_stream_compact")
    val batch1 = Seq((1L, ts("2024-01-01 10:00:00"), "A", 1L),
      (1L, ts("2024-01-01 10:05:00"), "A", 2L),   // dup: dropped
      (1L, ts("2024-01-01 10:10:00"), "B", 3L))
    val batch2 = Seq(
      (1L, ts("2024-01-01 11:00:00"), "B", 4L),   // dup ACROSS batches
      (1L, ts("2024-01-01 11:05:00"), "A", 5L),
      (2L, ts("2024-01-01 11:00:00"), "X", 6L))
    batch1.toDF("user_id", "ts", "event_type", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    batch2.toDF("user_id", "ts", "event_type", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
      df => Streaming.compactStream(df, "user_id", "ts", "event_id", "event_type"),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val kept = Streaming.foldCompactUpdates(updates)
      .collect().map(_.getLong(1)).toSet
    assert(kept == Set(1L, 3L, 5L, 6L))
    val batchKept = graft.ops.TimeSeries.compressConsecutive(
      (batch1 ++ batch2).toDF("user_id", "ts", "event_type", "event_id"),
      Seq("user_id"), "ts", "event_id", Seq("event_type"))
      .collect().map(_.getLong(3)).toSet
    assert(kept == batchKept)
  }

  test("distinctCountStream: HLL state accumulates across batches within RSE") {
    val dir = TestSpark.tempDir("graft_stream_hll")
    val batch1 = (0 until 400).map(i => ("k", i.toLong))
    val batch2 = (200 until 700).map(i => ("k", i.toLong)) // 200 overlap
    batch1.toDF("key", "v").coalesce(1).write.mode("append").parquet(s"$dir/in")
    batch2.toDF("key", "v").coalesce(1).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
      df => Streaming.distinctCountStream(df, "key", "v"),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val rows = Streaming.foldDistinctCountUpdates(updates).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getLong(1) == 900L) // all rows processed
    // true distinct = 700; HLL at lgK=12 is well within 5%
    assert(math.abs(r.getDouble(2) - 700.0) <= 35.0, s"est=${r.getDouble(2)}")
  }

  test("quantileStream: KLL state accumulates across batches; " +
      "small streams are exact") {
    val dir = TestSpark.tempDir("graft_stream_kll")
    // values 1..100 split across two batches: a k=200 sketch holds
    // them all, so the running quantiles are EXACT order statistics
    val batch1 = (1 to 60).map(i => ("k", i.toDouble))
    val batch2 = (61 to 100).map(i => ("k", i.toDouble))
    batch1.toDF("key", "v").coalesce(1).write.mode("append")
      .parquet(s"$dir/in")
    batch2.toDF("key", "v").coalesce(1).write.mode("append")
      .parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
      df => Streaming.quantileStream(df, "key", "v"),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    // the update log carries one row per processed batch
    assert(updates.count() >= 2)
    val rows = Streaming.foldQuantileUpdates(updates).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getLong(1) == 100L)
    // exact sketches land on data values at the requested ranks
    assert(math.abs(r.getDouble(2) - 25.0) <= 1.0)
    assert(math.abs(r.getDouble(3) - 50.0) <= 1.0)
    assert(math.abs(r.getDouble(4) - 75.0) <= 1.0)
  }

  test("heavyHitterStream: MG recall guarantee holds across batches") {
    val dir = TestSpark.tempDir("graft_stream_mg")
    // "hot" is 40% of the stream; 60 distinct cold items pass through
    val batch1 = (0 until 100).map(i =>
      ("k", if (i % 5 < 2) "hot" else s"cold${i % 30}"))
    val batch2 = (0 until 100).map(i =>
      ("k", if (i % 5 < 2) "hot" else s"cold${30 + i % 30}"))
    batch1.toDF("key", "item").coalesce(1).write.mode("append")
      .parquet(s"$dir/in")
    batch2.toDF("key", "item").coalesce(1).write.mode("append")
      .parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
      df => Streaming.heavyHitterStream(df, "key", "item", k = 8),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val rows = Streaming.foldHeavyHitterUpdates(updates).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getLong(1) == 200L)
    val cands = r.getSeq[String](2)
    // the 40% item must survive (true freq 80 > 200/9); state bounded
    assert(cands.contains("hot"), cands.mkString(","))
    assert(cands.length <= 8)
  }
  test("driftStream: exact bin counts accumulate across batches; " +
    "PSI zero on the reference, positive off it") {
    val dir = TestSpark.tempDir("graft_stream_drift")
    // bins at edges [10]: two bins. batch1 50/50 (the reference);
    // batch2 pushes everything high
    val batch1 = (0 until 50).map(i => ("k", 5.0)) ++
      (0 until 50).map(i => ("k", 15.0))
    val batch2 = (0 until 100).map(i => ("k", 15.0))
    batch1.toDF("key", "v").coalesce(1).write.mode("append")
      .parquet(s"$dir/in")
    batch2.toDF("key", "v").coalesce(1).write.mode("append")
      .parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
      df => Streaming.driftStream(df, "key", "v",
        Array(10.0), Array(0.5, 0.5)),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    // per-batch updates: after batch1 the stream matches the
    // reference exactly -> PSI 0; after batch2 it has drifted
    val byN = updates.collect().map(r =>
      r.getLong(1) -> (r.getSeq[Long](2), r.getDouble(3))).toMap
    assert(byN(100L)._1 == Seq(50L, 50L))
    assert(byN(100L)._2 == 0.0)
    val (counts, psi) = byN(200L)
    assert(counts == Seq(50L, 150L)) // exact accumulation
    val expected = (0.25 - 0.5) * math.log(0.25 / 0.5) +
      (0.75 - 0.5) * math.log(0.75 / 0.5)
    assert(math.abs(psi - expected) < 1e-12)
    val folded = Streaming.foldDriftUpdates(updates).collect()
    assert(folded.length == 1 && folded.head.getLong(1) == 200L)
    intercept[IllegalArgumentException] {
      Streaming.driftStream(batch1.toDF("key", "v"), "key", "v",
        Array(10.0), Array(1.0))
    }
  }

  test("cusumStream: exact integer-cent state across batches == batch cusum") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(t)
    val dir = TestSpark.tempDir("graft_stream_cusum")
    // target 10, slack 0: drifts +5, -8, +10, then across the boundary +15
    val batch1 = Seq((1L, ts("2024-01-01 10:00:00"), 15.0, 1L),
      (1L, ts("2024-01-01 10:05:00"), 2.0, 2L),
      (1L, ts("2024-01-01 10:10:00"), 20.0, 3L))
    val batch2 = Seq((1L, ts("2024-01-01 11:00:00"), 25.0, 4L),
      (2L, ts("2024-01-01 11:00:00"), 11.5, 5L))
    batch1.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    batch2.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
      df => Streaming.cusumStream(df, "user_id", "ts", "event_id", "value",
        target = 10.0, slack = 0.0, threshold = 12.0),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val out = Streaming.foldCusumUpdates(updates)
      .collect().map(r => r.getLong(1) ->
        ((r.getDouble(4), r.getBoolean(5)))).toMap
    // S: max-identity replay: 5, 0 (min dips), 10, then 25 across boundary
    assert(out == Map(1L -> ((5.0, false)), 2L -> ((0.0, false)),
      3L -> ((10.0, false)), 4L -> ((25.0, true)), 5L -> ((1.5, false))))
    // parity with the batch operator
    val batchOut = graft.ops.TimeSeries.cusum(
      (batch1 ++ batch2).toDF("user_id", "ts", "value", "event_id"),
      Seq("user_id"), "ts", "event_id", "value", 10.0, 0.0, 12.0)
      .collect().map(r => r.getLong(2) ->
        ((r.getAs[Double]("cusum"), r.getAs[Boolean]("alarm")))).toMap
    assert(out == batchOut)
  }

  test("pageHinkleyStream: keyed running-mean walk across batches == " +
    "batch pageHinkley, bit-for-bit; alarm index latches") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(t)
    val dir = TestSpark.tempDir("graft_stream_ph")
    // key 1: flat 10s then a level shift to 100 ACROSS the batch
    // boundary (the alarm must latch on post-boundary state)
    val batch1 = Seq((1L, ts("2024-01-01 10:00:00"), 10.0, 1L),
      (1L, ts("2024-01-01 10:05:00"), 10.0, 2L),
      (1L, ts("2024-01-01 10:10:00"), 10.0, 3L))
    val batch2 = Seq((1L, ts("2024-01-01 11:00:00"), 100.0, 4L),
      (1L, ts("2024-01-01 11:05:00"), 100.0, 5L),
      (2L, ts("2024-01-01 11:00:00"), 42.0, 6L))
    batch1.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    batch2.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
      df => Streaming.pageHinkleyStream(df, "user_id", "ts", "event_id",
        "value", delta = 0.0, lambda = 50.0),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val out = Streaming.foldPageHinkleyUpdates(updates)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    // tick 4: mean = 130/4 = 32.5, m jumps by 67.5 > 50 -> alarm at 4
    assert(out(1L)._1 == 5L && out(1L)._4.contains(4L))
    assert(out(2L)._4.isEmpty && out(2L)._2 == 42.0)
    // parity with the batch operator, bit-for-bit
    val batchOut = graft.ops.TimeSeries.pageHinkley(
      (batch1 ++ batch2).toDF("user_id", "ts", "value", "event_id"),
      Seq("user_id"), "ts", "event_id", "value",
      delta = 0.0, lambda = 50.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    assert(out == batchOut)
  }

  test("twapStream: closed buckets emit final rows across batches == " +
    "batch twap; the open bucket never emits") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(t)
    val dir = TestSpark.tempDir("graft_stream_twap")
    // hour 10: 54 min at 10, 6 min at 99 -> twap 18.9 (closed by the
    // hour-11 tick in batch 2); hour 11 stays open -> no emission
    val batch1 = Seq((Option(1L), ts("2024-01-01 10:00:00"), 10.0, 1L),
      (Option(1L), ts("2024-01-01 10:54:00"), 99.0, 2L))
    // the null-actor row has no key to fold into: both arms drop it
    val batch2 = Seq((Option(1L), ts("2024-01-01 11:30:00"), 40.0, 3L),
      (Option(2L), ts("2024-01-01 11:00:00"), 7.0, 4L),
      (None, ts("2024-01-01 10:30:00"), 50.0, 5L))
    batch1.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    batch2.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
      df => Streaming.twapStream(df, "user_id", "ts", "event_id", "value",
        unitMicros = 3600000000L),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val out = Streaming.foldTwapUpdates(updates)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val h10 = Timestamp.valueOf("2024-01-01 10:00:00").getTime * 1000L
    assert(out == Map((1L, h10) -> ((2L, 18.9))))
    // parity with the batch operator on the closed bucket
    val batchOut = graft.ops.TimeSeries.twap(
      (batch1 ++ batch2).toDF("user_id", "ts", "value", "event_id"),
      Seq("user_id"), "ts", "event_id", "value", unit = "hour")
      .filter(org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("bucket")) === h10 &&
        org.apache.spark.sql.functions.col("user_id") === 1L)
      .collect().map(r => (r.getAs[Long]("n_ticks"),
        r.getAs[Double]("twap"))).toSeq
    assert(batchOut == Seq((2L, 18.9)))
    assert(graft.ops.TimeSeries.twap(
      (batch1 ++ batch2).toDF("user_id", "ts", "value", "event_id"),
      Seq("user_id"), "ts", "event_id", "value", unit = "hour")
      .filter(org.apache.spark.sql.functions.col("user_id").isNull)
      .isEmpty)
  }

  test("twapStream keeps buckets before 1970: pre-epoch ticks == batch " +
    "twap") {
    // 1969-12-31 23:20 and 23:50 (UTC), then 1970-01-01 00:30 closes
    // the 23:00 bucket: 30 min at 10, 10 min at 40 -> twap 17.5
    def at(minutes: Long) = new Timestamp(minutes * 60000L)
    val ticks = Seq((1L, at(-40), 10.0, 1L), (1L, at(-10), 40.0, 2L),
      (1L, at(30), 7.0, 3L)).toDF("user_id", "ts", "value", "event_id")
    val h23 = -3600L * 1000000L
    val out = Streaming.twapStream(ticks, "user_id", "ts", "event_id",
      "value", unitMicros = 3600000000L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val batchOut = graft.ops.TimeSeries.twap(ticks, Seq("user_id"), "ts",
      "event_id", "value", unit = "hour")
      .filter(unix_micros(col("bucket")) === h23)
      .collect().map(r => (h23, r.getAs[Long]("n_ticks"),
        r.getAs[Double]("twap"))).toSeq
    assert(batchOut == Seq((h23, 2L, 17.5)))
    assert(out == batchOut)
  }

  test("RocksDB state store is a config flip, not code: twapStream " +
    "batch parity holds and the provider actually engages") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(t)
    val dir = TestSpark.tempDir("graft_rocksdb_twap")
    val batch1 = Seq((1L, ts("2024-01-01 10:00:00"), 10.0, 1L),
      (1L, ts("2024-01-01 10:54:00"), 99.0, 2L))
    val batch2 = Seq((1L, ts("2024-01-01 11:30:00"), 40.0, 3L),
      (2L, ts("2024-01-01 11:00:00"), 7.0, 4L))
    batch1.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    batch2.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.withRocksDbStateStore(spark) {
      Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
        df => Streaming.twapStream(df, "user_id", "ts", "event_id",
          "value", unitMicros = 3600000000L),
        dir = s"$dir/run", statePartitions = Some(2),
        sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    }
    val out = Streaming.foldTwapUpdates(updates)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val h10 = Timestamp.valueOf("2024-01-01 10:00:00").getTime * 1000L
    assert(out == Map((1L, h10) -> ((2L, 18.9)))) // ≡ HDFS-provider run
    // parity with the batch operator on the closed bucket
    val batchOut = graft.ops.TimeSeries.twap(
      (batch1 ++ batch2).toDF("user_id", "ts", "value", "event_id"),
      Seq("user_id"), "ts", "event_id", "value", unit = "hour")
      .filter(org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("bucket")) === h10 &&
        org.apache.spark.sql.functions.col("user_id") === 1L)
      .collect().map(r => (r.getAs[Long]("n_ticks"),
        r.getAs[Double]("twap"))).toSeq
    assert(batchOut == Seq((2L, 18.9)))
    // the provider ENGAGED (a typo'd class would throw at start, but
    // guard against a silently-ignored conf too): RocksDB checkpoints
    // ship .zip/.changelog files, never the HDFS provider's .delta
    import scala.jdk.CollectionConverters._
    val names = java.nio.file.Files
      .walk(java.nio.file.Paths.get(s"$dir/run/chk/state"))
      .iterator().asScala.map(_.getFileName.toString).toList
    assert(names.exists(n => n.endsWith(".zip") ||
      n.endsWith(".changelog")), s"no RocksDB state files in $names")
    assert(!names.exists(_.endsWith(".delta")),
      s"HDFS-provider .delta files present: $names")
  }

  test("twapStream carryIn: spanned buckets emit the held price, the " +
    "tick's bucket opens with the carried segment — == batch " +
    "twapCarry on closed buckets") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(t)
    val dir = TestSpark.tempDir("graft_stream_twap_carry")
    // batch 1 ends holding 10.0; batch 2's ticks close hour 0, carry
    // through hour 1, blend hour 2, and leave hour 3 open
    val batch1 = Seq((1L, ts("2024-01-01 00:30:00"), 10.0, 1L))
    val batch2 = Seq((1L, ts("2024-01-01 02:30:00"), 40.0, 2L),
      (1L, ts("2024-01-01 03:00:00"), 50.0, 3L))
    batch1.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    batch2.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in", schema,
      df => Streaming.twapStream(df, "user_id", "ts", "event_id", "value",
        unitMicros = 3600000000L, carryIn = true),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val out = Streaming.foldTwapUpdates(updates)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    def h(n: Int) = Timestamp.valueOf(s"2024-01-01 0$n:00:00")
      .getTime * 1000L
    assert(out == Map(h(0) -> ((1L, 10.0)), h(1) -> ((0L, 10.0)),
      h(2) -> ((1L, 25.0)))) // hour 3 stays open — never emitted
    // batch parity on the closed buckets
    val batchOut = graft.ops.TimeSeries.twapCarry(
      (batch1 ++ batch2).toDF("user_id", "ts", "value", "event_id"),
      Seq("user_id"), "ts", "event_id", "value", unit = "hour")
      .collect().map(r => r.getTimestamp(1).getTime * 1000L ->
        ((r.getAs[Long]("n_ticks"), r.getAs[Double]("twap")))).toMap
    assert(out.forall { case (b, v) => batchOut.get(b).contains(v) })
    assert(batchOut.keySet -- out.keySet == Set(h(3))) // only the open one
  }

  test("macdStream: three EMA registers across batches == batch " +
    "macd final row, bit-for-bit") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(t)
    val dir = TestSpark.tempDir("graft_stream_macd")
    // the seed and two recurrence steps cross the batch boundary
    val batch1 = Seq((1L, ts("2024-01-01 10:00:00"), 10.0, 1L),
      (1L, ts("2024-01-01 10:05:00"), 20.0, 2L))
    val batch2 = Seq((1L, ts("2024-01-01 10:10:00"), 15.0, 3L),
      (2L, ts("2024-01-01 10:00:00"), 42.0, 4L))
    batch1.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    batch2.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in",
      schema,
      df => Streaming.macdStream(df, "user_id", "ts", "event_id",
        "value"),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val out = Streaming.foldMacdUpdates(updates)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4)))).toMap
    // single-event key: registers at seed -> everything 0
    assert(out(2L) == ((1L, 0.0, 0.0, 0.0)))
    // parity with the batch operator's LAST row per key
    val batchOut = graft.ops.TimeSeries.macd(
      (batch1 ++ batch2).toDF("user_id", "ts", "value", "event_id"),
      Seq("user_id"), "ts", "event_id", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val last1 = batchOut((1L, 3L))
    assert(out(1L)._2 == last1.getAs[Double]("macd"))
    assert(out(1L)._3 == last1.getAs[Double]("signal"))
    assert(out(1L)._4 == last1.getAs[Double]("histogram"))
    assert(out(1L)._1 == 3L)
  }

  test("holtStream: level/trend registers across batches == batch " +
    "holtLinear, bit-for-bit") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(t)
    val dir = TestSpark.tempDir("graft_stream_holt")
    val batch1 = Seq((1L, ts("2024-01-01 10:00:00"), 10.0, 1L),
      (1L, ts("2024-01-01 10:05:00"), 20.0, 2L))
    val batch2 = Seq((1L, ts("2024-01-01 10:10:00"), 15.0, 3L),
      (2L, ts("2024-01-01 10:00:00"), 42.0, 4L))
    batch1.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    batch2.toDF("user_id", "ts", "value", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in",
      schema,
      df => Streaming.holtStream(df, "user_id", "ts", "event_id",
        "value", alpha = 0.3, beta = 0.1),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val out = Streaming.foldHoltUpdates(updates)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4)))).toMap
    assert(out(2L) == ((1L, 42.0, 0.0, 42.0))) // seed state
    val batchOut = graft.ops.TimeSeries.holtLinear(
      (batch1 ++ batch2).toDF("user_id", "ts", "value", "event_id"),
      Seq("user_id"), "ts", "event_id", "value",
      alpha = 0.3, beta = 0.1)
      .collect().map(r => r.getLong(0) -> r).toMap
    val b1 = batchOut(1L)
    assert(out(1L)._1 == b1.getAs[Long]("n"))
    assert(out(1L)._2 == b1.getAs[Double]("level"))
    assert(out(1L)._3 == b1.getAs[Double]("trend"))
    assert(out(1L)._4 == b1.getAs[Double]("forecast"))
  }

  test("trackingSignalStream: integer-cent registers across batches " +
    "== batch trackingSignal, bit-for-bit") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(t)
    val dir = TestSpark.tempDir("graft_stream_tsig")
    val batch1 = Seq((1L, ts("2024-01-01 10:00:00"), 10.0, 10.0, 1L),
      (1L, ts("2024-01-01 10:05:00"), 12.0, 10.0, 2L))
    val batch2 = Seq((1L, ts("2024-01-01 10:10:00"), 14.0, 10.0, 3L),
      (2L, ts("2024-01-01 10:00:00"), 5.0, 5.0, 4L))
    batch1.toDF("user_id", "ts", "a", "f", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    batch2.toDF("user_id", "ts", "a", "f", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in",
      schema,
      df => Streaming.trackingSignalStream(df, "user_id", "ts",
        "event_id", "a", "f"),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val out = Streaming.foldTrackingUpdates(updates)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) null else r.getDouble(4)))).toMap
    // perfect forecast key: MAD 0 -> null signal
    assert(out(2L)._1 == 1L && out(2L)._2 == 0.0 && out(2L)._4 == null)
    val batchOut = graft.ops.TimeSeries.trackingSignal(
      (batch1 ++ batch2).toDF("user_id", "ts", "a", "f", "event_id"),
      Seq("user_id"), "a", "f")
      .collect().map(r => r.getLong(0) -> r).toMap
    val b1 = batchOut(1L)
    assert(out(1L)._1 == b1.getAs[Long]("n"))
    assert(out(1L)._2 == b1.getAs[Double]("cum_error"))
    assert(out(1L)._3 == b1.getAs[Double]("mad"))
    assert(out(1L)._4 == b1.getAs[Double]("tracking_signal"))
    assert(out(1L)._4 == 3.0) // (0+2+4)/((0+2+4)/3)
  }

  test("bottomKStream: mergeable bottom-k state across batches == " +
    "batch bottomKByHash, including duplicate-id dedup") {
    val dir = TestSpark.tempDir("graft_stream_bk")
    val batch1 = Seq((1L, 101L), (1L, 102L), (1L, 103L), (2L, 900L))
    val batch2 = Seq((1L, 104L), (1L, 105L), (1L, 103L)) // 103 repeats
    batch1.toDF("user_id", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    batch2.toDF("user_id", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val updates = Streaming.runUpdateStreamFiles(spark, s"$dir/in",
      schema,
      df => Streaming.bottomKStream(df, "user_id", "event_id", k = 3),
      dir = s"$dir/run", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val out = Streaming.foldBottomKUpdates(updates)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[Long](2)))).toMap
    assert(out(1L)._1 == 6L) // rows processed, dup included
    assert(out(1L)._2.length == 3)
    assert(out(2L)._2 == Seq(900L))
    val batchOut = graft.llm.Sampling.bottomKByHash(
      (batch1 ++ batch2).toDF("user_id", "event_id"),
      Seq("user_id"), "event_id", k = 3)
      .orderBy("user_id", "rank").collect()
      .groupBy(_.getLong(0)).map { case (u, rs) =>
        u -> rs.sortBy(_.getAs[Long]("rank")).map(_.getLong(1)).toSeq }
    assert(out(1L)._2 == batchOut(1L))
  }
}
