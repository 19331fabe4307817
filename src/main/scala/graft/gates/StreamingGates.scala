package graft
package gates

import org.apache.spark.sql.functions._

import graft.core.{Parquet, Tables}

import GateSupport._
import Oracle.Sql

/** `graft.streaming.Streaming` and `ChangeFeed`: the micro-batch
 *  gates, most of them fed through `GateSupport.orderedFeed`. */
private[graft] object StreamingGates {

  val gates: Seq[Gate] = Seq(
    // ---- §2.11 session windows (gap-based; same code runs streaming) ----
    Gate("q32_session_window", (s, dir) => {
      graft.streaming.Streaming.session(
        t(s, dir, "events"), "ts", "30 minutes",
        Seq(col("user_id")), Seq(count(lit(1)).as("n_events")))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
    }, Sql(
      """WITH m AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |          OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin)),

    // ---- §2.11 streaming SESSION windows through the micro-batch
    //      engine (append mode): only sessions the FINAL watermark
    //      (max event time − delay) has closed are emitted — the
    //      oracle applies the same cutoff to the batch
    //      gaps-and-islands sessions. Complete mode does not support
    //      session windows, so append + cutoff IS the streaming
    //      contract here ----
    // batch sessions (same CTE as q32) restricted to those the final
    // streaming watermark (max ts − 1 h) closed — append mode emits a
    // session only once the watermark passes its end. Boundary note:
    // the strict `<` matches because every fixture ts carries random
    // sub-millisecond digits, so no session end can tie the watermark
    // exactly; a regenerated second-aligned fixture could hit the tie,
    // where Spark's eviction is `end <= watermark` — flip to `<=` then.
    Gate("q76_stream_session", (s, dir) => {
      val schema = Tables.rawSchema(s, dir, "events")
      // the largest streaming gate (~10k rows at sf0.01) rides the
      // FILE-BACKED bridge — append semantics unchanged, but the result
      // never passes through the driver
      val tmp = gateTempDir(s, "graft_q76")
      graft.streaming.Streaming.runBatchAsStreamFiles(
        s, s"$dir/events*.parquet", schema,
        df => Tables.normalizeTs(df)
          .withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events")),
        dir = tmp, statePartitions = gateStateParts)
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
    }, Sql(
      """WITH m AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |          OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |sess AS (SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, sid)
        |SELECT user_id, session_start, session_end, n_events FROM sess
        |WHERE session_end < (SELECT max(ts) - INTERVAL 1 HOUR FROM events)""".stripMargin)),

    // ---- §2.11 STREAMING DEDUP through real micro-batches: the
    //      events table re-chunked into chronological hour-range files
    //      (mtimes stamped in range order so the file source lists them
    //      oldest-first), one file per micro-batch, watermark-bounded
    //      dedup state. The dedup key INCLUDES the hour column and the
    //      files are range-partitioned on it, so every key lives in
    //      exactly one micro-batch: the output is exactly the distinct
    //      key set (which row of a duplicate group survives is
    //      processing-order-dependent, so the key columns ARE the
    //      output), while state for past hours is genuinely evicted as
    //      the watermark advances batch over batch ----
    // streaming dedup emits each key's first occurrence exactly once:
    // the dedup key includes the hour column and the feed is
    // range-chunked on it, so no key can span micro-batches (no
    // re-admission after state eviction) — the output is exactly the
    // distinct key set
    Gate("q110_stream_dedup", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      orderedFeed(s, "q110", ev, append = true)(
        df => graft.streaming.Streaming.dedupStream(df,
          Seq("user_id", "event_type", "hr"), "hr", "1 hour"))
    }, Sql(
      """SELECT DISTINCT user_id, event_type,
        |  CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr
        |FROM events""".stripMargin)),

    // ---- §2.1/§2.11 CHANGE STREAM → materialized table: the generic
    //      analogue of the reference's Mongo change stream — a
    //      file-backed I/U/D feed (full row image + op + version),
    //      randomly chunked into 4 files, applied one file per
    //      micro-batch through ChangeFeed.materialize's version-gated
    //      merge. The random chunking means a key's INSERT, UPDATE and
    //      DELETE can arrive in ANY batch order — the gate passes only
    //      because application is order-independent by construction ----
    // the materialized table after the full I/U/D feed: every order
    // INSERTed (v1), every %3 key UPDATEd to price+10 (v2), every %7
    // key DELETEd (v3) — version-gated merge makes batch order
    // irrelevant, so the oracle is the final state in closed form
    Gate("q111_change_stream", (s, dir) => {
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val dec = col("o_totalprice").cast("decimal(18,2)")
      val ins = base.withColumn("o_totalprice", dec.cast("double"))
        .withColumn("op", lit("I")).withColumn("version", lit(1L))
      val upd = base.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", (dec + lit(BigDecimal("10.00"))).cast("double"))
        .withColumn("op", lit("U")).withColumn("version", lit(2L))
      val del = base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", dec.cast("double"))
        .withColumn("op", lit("D")).withColumn("version", lit(3L))
      val tmp = gateTempDir(s, "graft_q111")
      ins.unionByName(upd).unionByName(del)
        .repartition(4).write.parquet(s"$tmp/feed")
      val schema = Parquet.read(s, s"$tmp/feed").schema
      graft.streaming.ChangeFeed.materialize(s, s"$tmp/feed", schema,
        keys = Seq("o_orderkey"), opCol = "op", versionCol = "version",
        workDir = s"$tmp/work", statePartitions = gateStateParts,
        // numBuckets sizes buckets to the snapshot (100 TB wants
        // thousands); at gate scale 16 default buckets were pure
        // FS-metadata overhead — 4 is the honest sizing (-1.1 s)
        sourceOptions = Map("maxFilesPerTrigger" -> "1"), numBuckets = 4)
    }, Sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(CASE WHEN o_orderkey % 3 = 0
        |       THEN CAST(o_totalprice AS DECIMAL(18,2)) + 10.00
        |       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin)),

    // ---- §2.1/§2.11 CHANGE STREAM RE-ENTRY — the incremental-CDC
    //      cadence this operator exists for: materialize the inserts,
    //      then land the update/delete feed files and materialize
    //      AGAIN on the SAME workDir. The checkpoint skips the applied
    //      files and each touched bucket recovers from its committed
    //      generation, so the second call applies just the delta; the
    //      result must hash-match the one-shot fold (q111's oracle) ----
    // re-entry converges to the same fold as the one-shot feed: the
    // second materialize() applies only the U/D delta onto the
    // recovered insert snapshot
    Gate("q113_change_stream_reentry", (s, dir) => {
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val dec = col("o_totalprice").cast("decimal(18,2)")
      val ins = base.withColumn("o_totalprice", dec.cast("double"))
        .withColumn("op", lit("I")).withColumn("version", lit(1L))
      val upd = base.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", (dec + lit(BigDecimal("10.00"))).cast("double"))
        .withColumn("op", lit("U")).withColumn("version", lit(2L))
      val del = base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", dec.cast("double"))
        .withColumn("op", lit("D")).withColumn("version", lit(3L))
      val tmp = gateTempDir(s, "graft_q113")
      ins.repartition(2).write.mode("append").parquet(s"$tmp/feed")
      val schema = Parquet.read(s, s"$tmp/feed").schema
      def run() = graft.streaming.ChangeFeed.materialize(s, s"$tmp/feed",
        schema, keys = Seq("o_orderkey"), opCol = "op",
        versionCol = "version", workDir = s"$tmp/work",
        statePartitions = gateStateParts,
        sourceOptions = Map("maxFilesPerTrigger" -> "1"), numBuckets = 4)
      run() // snapshot of the inserts (eager; returned frame unused)
      upd.unionByName(del).repartition(2)
        .write.mode("append").parquet(s"$tmp/feed")
      run() // delta-only second pass on the same workDir
    }, Sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(CASE WHEN o_orderkey % 3 = 0
        |       THEN CAST(o_totalprice AS DECIMAL(18,2)) + 10.00
        |       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin)),

    // ---- §2.11 stream-stream INTERVAL JOIN through the real
    //      micro-batch engine (append mode): clicks matched to views
    //      for the same user within ±2 h. The gate watermark is huge
    //      so no state eviction can drop a match and the result equals
    //      the batch join EXACTLY; production uses tight delays and
    //      accepts the documented late-data trade ----
    // the micro-batch interval join must equal the plain batch join
    // (the gate watermark is large enough that nothing is evicted)
    Gate("q74_stream_join", (s, dir) => {
      val schema = Tables.rawSchema(s, dir, "events")
      // file-backed bridge: the joined matches append to a checkpointed
      // parquet sink across micro-batches — no driver-side collect
      val tmp = gateTempDir(s, "graft_q74")
      graft.streaming.Streaming.runBatchAsStreamFiles(
        s, s"$dir/events*.parquet", schema,
        df => {
          val ev = Tables.normalizeTs(df)
          graft.streaming.Streaming.intervalJoin(
            ev.filter(col("event_type") === "click")
              .select("event_id", "user_id", "ts"),
            ev.filter(col("event_type") === "view")
              .select("event_id", "user_id", "ts"),
            keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
            delay = "10000 hours", tolerance = "2 hours")
        },
        dir = tmp, statePartitions = gateStateParts)
        .select(col("user_id"), col("event_id").as("l_id"), col("ts").as("l_ts"),
          col("r_event_id").as("r_id"), col("r_ts"))
    }, Sql(
      """SELECT a.user_id, a.event_id AS l_id, a.ts AS l_ts,
        | b.event_id AS r_id, b.ts AS r_ts
        |FROM events a JOIN events b
        | ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'view'
        | AND b.ts >= a.ts - INTERVAL 2 HOUR
        | AND b.ts <= a.ts + INTERVAL 2 HOUR""".stripMargin)),

    // ---- §2.11 sliding windows (batch form of the streaming op) ----
    // each event lands in width/slide = 2 windows whose starts are the
    // two slide-aligned marks in (ts − width, ts]; micros arithmetic
    // mirrors Spark's window() epoch alignment exactly
    Gate("q50_sliding_window", (s, dir) => {
      graft.streaming.Streaming.sliding(t(s, dir, "events"), "ts",
        "1 hour", "30 minutes",
        Seq(col("event_type")), Seq(count(lit(1)).as("n")))
        .select(col("window.start").as("w_start"),
          col("window.end").as("w_end"), col("event_type"), col("n"))
    }, Sql(
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |w AS (SELECT event_type, (us // 1800000000 - r.i) * 1800000000 AS ws
        |      FROM e CROSS JOIN range(2) r(i)
        |      WHERE us >= (us // 1800000000 - r.i) * 1800000000
        |        AND us < (us // 1800000000 - r.i) * 1800000000 + 3600000000)
        |SELECT make_timestamp(ws) AS w_start,
        |       make_timestamp(ws + 3600000000) AS w_end,
        |       event_type, count(*) AS n
        |FROM w GROUP BY 1, 2, 3""".stripMargin)),

    // ---- §2.11 REAL streaming execution: file source → watermark →
    //      tumbling window agg → checkpointed PARQUET sink (the
    //      production-shaped file-backed bridge — nothing through the
    //      driver), Trigger.AvailableNow. The file sink is append-only,
    //      so only windows the FINAL watermark (max ts − delay) closed
    //      are emitted — the oracle applies the same cutoff ----
    // append mode through the file-backed bridge: only windows the
    // FINAL watermark (max ts − 1 h) closed are emitted — eviction is
    // `window.end <= watermark`, and no whole-hour boundary can tie the
    // sub-millisecond-noise watermark exactly, so strict `<` matches;
    // hour windows are epoch-aligned = date_trunc
    Gate("q56_stream_hourly", (s, dir) => {
      // RAW parquet schema (ts is nano-epoch INT64 under nanosAsLong) —
      // the stream must read what's physically in the file; the
      // micros conversion Tables does for batch runs inside the
      // streaming transform instead
      val schema = Tables.rawSchema(s, dir, "events")
      val tmp = gateTempDir(s, "graft_q56")
      // pin the oracle-cutoff assumption (same contract as q60's
      // guard, hour grid): diverges only if max(ts) is exactly
      // hour-aligned with zero sub-ms part
      val maxMicros = t(s, dir, "events")
        .agg(unix_micros(max(col("ts")))).head.getLong(0)
      require(maxMicros % 3600000000L != 0,
        s"q56: fixture max(ts)=$maxMicros µs is hour-aligned — " +
          "the strict-< oracle cutoff no longer matches Spark's <= eviction")
      // glob, not the bare file path: the file-stream source requires a
      // directory (or glob) so it can derive a basePath for listing
      graft.streaming.Streaming.runBatchAsStreamFiles(
        s, s"$dir/events*.parquet", schema,
        df => Tables.normalizeTs(df)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")),
        dir = tmp, statePartitions = gateStateParts)
        .select(col("window.start").as("hour"), col("event_type"),
          col("n"), col("total_value"))
    }, Sql(
      """WITH agg AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2)
        |SELECT hour, event_type, n, total_value FROM agg
        |WHERE hour + INTERVAL 1 HOUR < (SELECT max(ts) - INTERVAL 1 HOUR FROM events)""".stripMargin)),

    // ---- §2.11 custom KEYED STATE through the real micro-batch
    //      engine: mapGroupsWithState running counts in Update mode;
    //      counts are monotone, so max-per-key over every emitted
    //      update equals the batch groupBy count exactly. Runs under
    //      the ROCKSDB state store — the disk-backed provider a 100 TB
    //      stream needs (keyed state bounded by disk, not executor
    //      heap) — so the gate exercises the production backend, not
    //      just the in-memory default ----
    // keyed GroupState running counts are monotone; their max per key
    // IS the final count, which must equal the batch aggregate
    Gate("q90_stream_state", (s, dir) => {
      import s.implicits._
      val schema = Tables.rawSchema(s, dir, "events")
      // Update-mode emissions append to a checkpointed parquet log via
      // foreachBatch (the production materialization for update
      // streams) — the memory sink stays test-only
      val tmp = gateTempDir(s, "graft_q90")
      graft.streaming.Streaming.withRocksDbStateStore(s) {
        graft.streaming.Streaming.runUpdateStreamFiles(
          s, s"$dir/events*.parquet", schema,
          df => graft.streaming.Streaming.runningCount(
            df.select(col("event_type"), lit(1L))
              .as[(String, Long)]).toDF(),
          dir = tmp, statePartitions = gateStateParts)
      }
        .groupBy("key").agg(max("count").as("n"))
        .select(col("key").as("event_type"), col("n"))
    }, Sql(
      "SELECT event_type, count(*) AS n FROM events GROUP BY 1")),

    // ---- §2.11 foreachBatch sink e2e: stream → per-micro-batch
    //      parquet append (checkpointed) → read back and aggregate;
    //      the custom-write hook every exactly-once-ish production
    //      sink (JDBC upsert per batch, etc.) hangs off ----
    // every event flows through the foreachBatch writes exactly once
    Gate("q102_stream_foreachbatch", (s, dir) => {
      // output and checkpoint both fresh at START (gateTempDir empties
      // the gate's dir): a STALE checkpoint with a deleted output would
      // silently skip already-committed batches
      val tmp = gateTempDir(s, "graft_q102")
      val out = s"$tmp/out"
      val ckpt = s"$tmp/ckpt"
      val schema = Tables.rawSchema(s, dir, "events")
      val stream = graft.streaming.Streaming.readStream(
        s, "parquet", s"$dir/events*.parquet", schema)
      val q = graft.streaming.Streaming.foreachBatchSink(
        stream.select(col("event_id"), col("event_type")), ckpt,
        (df, _) => graft.sinks.Sinks.parquet(df, out, mode = "append"))
      q.awaitTermination()
      Parquet.read(s, out).groupBy("event_type").agg(count(lit(1)).as("n"))
    }, Sql(
      "SELECT event_type, count(*) AS n FROM events GROUP BY 1")),

    // ---- §2.11 STREAM-STATIC join through the micro-batch engine:
    //      the streaming side enriches against a static dim (broadcast
    //      per micro-batch), then aggregates — the enrichment shape of
    //      every production stream ----
    // the micro-batch enrichment must equal the batch join exactly
    Gate("q101_stream_static_join", (s, dir) => {
      val schema = Tables.rawSchema(s, dir, "events")
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      // the capability under test is the per-micro-batch STREAM-STATIC
      // enrichment, which is stateless and therefore append-safe with
      // no watermark: the enriched rows land in the checkpointed file
      // sink (production shape — no driver collect, no Complete-mode
      // driver-resident aggregate) and the rollup runs in batch on the
      // read-back
      val tmp = gateTempDir(s, "graft_q101")
      graft.streaming.Streaming.runBatchAsStreamFiles(
        s, s"$dir/events*.parquet", schema,
        df => df.join(cust, df("user_id") === cust("c_custkey"))
          .select(col("c_mktsegment"), col("value")),
        dir = tmp)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
    }, Sql(
      """SELECT c_mktsegment, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin)),

    // ---- §2.11 REAL streaming sliding windows (micro-batch engine;
    //      overlapping-window state vs the epoch-aligned batch oracle) ----
    // append + final-watermark cutoff through the file-backed bridge,
    // same contract as q56
    // sliding windows: each event lands in width/slide = 2 windows
    // (same epoch-aligned micros arithmetic as the q50 batch oracle);
    // append mode through the file-backed bridge — same final-watermark
    // cutoff as q56 (strict `<`: window ends are slide-aligned marks,
    // the watermark carries sub-millisecond noise, no exact ties)
    Gate("q60_stream_sliding", (s, dir) => {
      val schema = Tables.rawSchema(s, dir, "events")
      val tmp = gateTempDir(s, "graft_q60")
      // pin the oracle-cutoff assumption: append-mode eviction emits
      // window.end <= watermark (ms-truncated) while the oracle keeps
      // window.end < max(ts) − 1 h — these agree unless max(ts) is
      // EXACTLY slide-grid-aligned at ms precision with zero sub-ms
      // part (then a window end ties the watermark and the two sides
      // diverge by one window). Fail loudly if a future fixture ever
      // lands on the grid instead of hash-diverging silently.
      val maxMicros = t(s, dir, "events")
        .agg(unix_micros(max(col("ts")))).head.getLong(0)
      require(maxMicros % 1800000000L != 0,
        s"q60: fixture max(ts)=$maxMicros µs is 30-min-grid-aligned — " +
          "the strict-< oracle cutoff no longer matches Spark's <= eviction")
      graft.streaming.Streaming.runBatchAsStreamFiles(
        s, s"$dir/events*.parquet", schema,
        df => Tables.normalizeTs(df)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n")),
        dir = tmp, statePartitions = gateStateParts)
        .select(col("window.start").as("w_start"),
          col("window.end").as("w_end"), col("event_type"), col("n"))
    }, Sql(
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |w AS (SELECT event_type, (us // 1800000000 - r.i) * 1800000000 AS ws
        |      FROM e CROSS JOIN range(2) r(i)
        |      WHERE us >= (us // 1800000000 - r.i) * 1800000000
        |        AND us < (us // 1800000000 - r.i) * 1800000000 + 3600000000)
        |SELECT make_timestamp(ws) AS w_start,
        |       make_timestamp(ws + 3600000000) AS w_end,
        |       event_type, count(*) AS n
        |FROM w GROUP BY 1, 2, 3
        |HAVING make_timestamp(ws + 3600000000) <
        |  (SELECT max(ts) - INTERVAL 1 HOUR FROM events)""".stripMargin)),

    // ---- streaming: the funnel maintained INCREMENTALLY with custom
    //      keyed state through REAL micro-batches (hour-chunked
    //      chronological feed, the q110 bridge), update log folded
    //      back to the batch-funnel shape and hash-matched against
    //      the batch oracle ----
    // the q127 batch-funnel oracle restricted to actors with at least
    // one STEP event (the stream emits state only for those); the
    // stream's fold must hash-match the batch formula exactly
    Gate("q138_stream_funnel", (s, dir) => {
      val steps = Seq("view", "click", "purchase")
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isin(steps.map(lit): _*))
        .select(col("user_id"), col("ts"), col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q138", ev)(
        df => graft.streaming.Streaming.funnelStream(
          df, "user_id", "ts", "event_type", steps))
      graft.streaming.Streaming.foldFunnelUpdates(updates, "user_id", 3)
    }, Sql(
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |             AND event_type IN ('view', 'click', 'purchase')),
        |w1 AS (SELECT *, CASE WHEN event_type = 'view' THEN ts END AS q0 FROM e),
        |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND
        |         min(q0) OVER (PARTITION BY user_id ORDER BY ts) IS NOT NULL
        |         THEN ts END AS q1 FROM w1),
        |w3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND
        |         min(q1) OVER (PARTITION BY user_id ORDER BY ts) IS NOT NULL
        |         THEN ts END AS q2 FROM w2)
        |SELECT user_id, min(q0) AS step1_ts, min(q1) AS step2_ts, min(q2) AS step3_ts,
        |  CASE WHEN min(q2) IS NOT NULL THEN 3 WHEN min(q1) IS NOT NULL THEN 2
        |       WHEN min(q0) IS NOT NULL THEN 1 ELSE 0 END AS stage
        |FROM w3 GROUP BY user_id""".stripMargin)),

    // ---- streaming: exact per-key running counts (the heavy-hitter
    //      primitive) with custom keyed state through REAL
    //      micro-batches; counts are monotone, so the at-least-once
    //      update log folds with max — order- and duplicate-free ----
    // the stream's folded running counts must equal the batch
    // per-user event counts exactly
    Gate("q143_stream_counts", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("ts"),
          date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q143", ev)(
        df => {
          import df.sparkSession.implicits._
          graft.streaming.Streaming.runningCount(
            df.select(col("user_id").cast("string"), lit(1L))
              .as[(String, Long)]).toDF()
        })
      updates.groupBy(col("key"))
        .agg(max(col("count")).as("n_events"))
    }, Sql(
      """SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n_events
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |GROUP BY 1""".stripMargin)),

    // ---- streaming: the q151 transition matrix as incremental keyed
    //      state through real micro-batches (q138 feed contract:
    //      chronological hour chunks, one file per trigger) ----
    // the q151 oracle restricted to non-null users (stream keys)
    Gate("q161_stream_transitions", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
        .select(col("user_id"), col("ts"), col("event_type"),
          col("event_id"), date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q161", ev)(
        df => graft.streaming.Streaming.transitionsStream(
          df, "user_id", "ts", "event_type", "event_id"))
      graft.streaming.Streaming.foldTransitionUpdates(updates)
    }, Sql(
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |p AS (SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
        |  FROM e),
        |c AS (SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n FROM p
        |  WHERE to_state IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n,
        |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE) AS p
        |FROM c""".stripMargin)),

    // ---- streaming: the q167 recurrence as O(1) keyed state — the
    //      unbounded-series path the batch array fold can't take ----
    // identical to q167: the stream carries the same recurrence in
    // keyed state and must land on the same rows
    Gate("q168_stream_ewma", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"),
          date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q168", ev)(
        df => graft.streaming.Streaming.ewmaStream(
          df, "user_id", "ts", "event_id", "value", alpha = 0.3))
      graft.streaming.Streaming.foldEwmaUpdates(updates)
        .select(col("actor").as("user_id"), col("tie").as("event_id"),
          timestamp_micros(col("ts_micros")).as("ts"), col("value"),
          col("ewma"))
    }, Sql(
      """WITH RECURSIVE r0 AS (SELECT user_id, ts, event_id,
        |    CAST(value AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |walk AS (
        |  SELECT user_id, ts, event_id, v, rn, v AS ew FROM r0 WHERE rn = 1
        |  UNION ALL
        |  SELECT r0.user_id, r0.ts, r0.event_id, r0.v, r0.rn,
        |    w.ew + CAST('0.3' AS DOUBLE) * (r0.v - w.ew)
        |  FROM walk w JOIN r0 ON r0.user_id = w.user_id AND r0.rn = w.rn + 1)
        |SELECT user_id, event_id, ts, v AS value, ew AS ewma FROM walk""".stripMargin)),

    // ---- streaming: log compaction as keyed state through real
    //      micro-batches (the q134 rule, last value carried across
    //      batch boundaries) ----
    // the q134 change-point rule restricted to the stream's keyspace
    // (non-null users), projected to the streamed columns
    Gate("q180_stream_compaction", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("event_type"),
          col("event_id"), date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q180", ev)(
        df => graft.streaming.Streaming.compactStream(
          df, "user_id", "ts", "event_id", "event_type"))
      graft.streaming.Streaming.foldCompactUpdates(updates)
        .select(col("actor").as("user_id"), col("tie").as("event_id"),
          timestamp_micros(col("ts_micros")).as("ts"),
          col("state").as("event_type"))
    }, Sql(
      """SELECT user_id, event_id, ts, event_type FROM (
        |  SELECT *, lag(event_id) OVER w AS pid, lag(event_type) OVER w AS pv
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |WHERE pid IS NULL OR pv IS DISTINCT FROM event_type""".stripMargin)),

    // ---- streaming: per-type distinct users via MERGEABLE HLL
    //      sketch state (bounded state for unbounded keyspaces);
    //      accuracy-contract gated ----
    // the estimate is sketch arithmetic; hash-gated: exact distincts,
    // full row coverage (n_seen == rows), and the accuracy contract
    Gate("q184_stream_distinct", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
          col("ts").isNotNull)
        .select(col("event_type"), col("user_id"),
          date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q184", ev)(
        df => graft.streaming.Streaming.distinctCountStream(
          df, "event_type", "user_id"))
      val folded = graft.streaming.Streaming.foldDistinctCountUpdates(updates)
      val exact = ev.groupBy(col("event_type").cast("string").as("key"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_exact"))
      folded.join(exact, Seq("key"))
        .select(col("key"), col("n_seen"), col("n_exact"),
          (col("n_seen") === col("n_rows") &&
            abs(col("estimate") - col("n_exact").cast("double")) <=
              lit(0.05) * col("n_exact").cast("double") + lit(16.0))
            .as("ok"))
    }, Sql(
      """SELECT CAST(event_type AS VARCHAR) AS key,
        |  CAST(count(*) AS BIGINT) AS n_seen,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS ok
        |FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  AND ts IS NOT NULL
        |GROUP BY 1""".stripMargin)),

    // ---- streaming: per-key running quantiles via MERGEABLE KLL
    //      sketch state; rank-error-contract gated (the q184/q146
    //      pattern — the estimate is sketch arithmetic, the CLAIM is
    //      engine-independent) ----
    // the estimates are sketch arithmetic; hash-gated: full row
    // coverage (n_seen == rows) and the rank-error contract per
    // quantile — all engine-independent claims
    Gate("q229_stream_quantiles", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull &&
          col("ts").isNotNull)
        .select(col("event_type"), col("value"),
          date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q229", ev)(
        df => graft.streaming.Streaming.quantileStream(
          df, "event_type", "value"))
      val folded = graft.streaming.Streaming.foldQuantileUpdates(updates)
      val ev2 = ev.select(col("event_type").cast("string").as("key"),
        col("value"))
      val eps = 0.03
      val c = ev2.join(broadcast(folded), Seq("key"))
        .groupBy(col("key"))
        .agg(count(lit(1)).as("__n"), min(col("n_seen")).as("n_seen"),
          sum(when(col("value") < col("p25"), 1L).otherwise(0L)).as("__l25"),
          sum(when(col("value") <= col("p25"), 1L).otherwise(0L)).as("__h25"),
          sum(when(col("value") < col("p50"), 1L).otherwise(0L)).as("__l50"),
          sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).as("__h50"),
          sum(when(col("value") < col("p75"), 1L).otherwise(0L)).as("__l75"),
          sum(when(col("value") <= col("p75"), 1L).otherwise(0L)).as("__h75"))
      def okP(p: Double, lo: String, hi: String) =
        col(lo).cast("double") <= (lit(p) + eps) * col("__n").cast("double") &&
          col(hi).cast("double") >= (lit(p) - eps) * col("__n").cast("double")
      c.select(col("key"), col("n_seen"),
        (col("n_seen") === col("__n")).as("complete"),
        okP(0.25, "__l25", "__h25").as("ok_p25"),
        okP(0.50, "__l50", "__h50").as("ok_p50"),
        okP(0.75, "__l75", "__h75").as("ok_p75"))
    }, Sql(
      """SELECT CAST(event_type AS VARCHAR) AS key,
        |  CAST(count(*) AS BIGINT) AS n_seen,
        |  TRUE AS complete, TRUE AS ok_p25, TRUE AS ok_p50,
        |  TRUE AS ok_p75
        |FROM events
        |WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  AND ts IS NOT NULL
        |GROUP BY 1""".stripMargin)),

    // ---- streaming: Misra-Gries heavy-hitter state — bounded
    //      counters for an unbounded item space; recall-contract
    //      gated (candidates beyond the guarantee are arrival-order
    //      artifacts and never hashed) ----
    // MG candidate membership beyond the guarantee is arrival-order
    // dependent; hash-gated: coverage, the recall contract, the
    // state-size bound — all engine-independent
    Gate("q237_stream_heavy_hitters", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .select(lit("all").as("k"), col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q237", ev)(
        df => graft.streaming.Streaming.heavyHitterStream(
          df, "k", "event_type", k = 8))
      val folded = graft.streaming.Streaming.foldHeavyHitterUpdates(updates)
      val exact = ev.groupBy(col("event_type").as("item"))
        .agg(count(lit(1)).as("__c"))
      val tot = ev.agg(count(lit(1)).as("__n"))
      // hot iff freq*(k+1) > n — exact integer comparison
      val hot = exact.crossJoin(broadcast(tot))
        .filter(col("__c") * 9 > col("__n"))
      val cand = folded.select(col("key"), col("n_seen"),
        size(col("candidates")).cast("long").as("n_candidates"),
        col("candidates"))
      val missed = hot.join(
        folded.select(explode(col("candidates")).as("item")),
        Seq("item"), "left_anti")
      val missedN = missed.agg(count(lit(1)).as("__miss"))
      cand.crossJoin(broadcast(tot)).crossJoin(broadcast(missedN))
        .select(col("key"), col("n_seen"),
          (col("n_seen") === col("__n")).as("complete"),
          (col("__miss") === 0).as("recall_ok"),
          (col("n_candidates") <= 8).as("size_ok"))
    }, Sql(
      """SELECT 'all' AS key, CAST(count(*) AS BIGINT) AS n_seen,
        |  TRUE AS complete, TRUE AS recall_ok, TRUE AS size_ok
        |FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL""".stripMargin)),

    // ---- streaming: distribution-drift monitor — exact per-key bin
    //      counts in the state store, PSI per batch; the gate hashes
    //      the engine-independent claims (final exact histogram) ----
    // the stream's accumulated histogram must equal the exact batch
    // histogram (state exactness — the q184 contract pattern, but the
    // claim is the full per-bin count vector, zero bins included)
    Gate("q250_stream_drift", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull &&
          col("ts").isNotNull)
        .select(col("event_type"), col("value"),
          date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q250", ev)(
        df => graft.streaming.Streaming.driftStream(df, "event_type",
          "value", Array(20.0, 40.0, 60.0, 80.0),
          Array(0.2, 0.2, 0.2, 0.2, 0.2)))
      graft.streaming.Streaming.foldDriftUpdates(updates)
        .select(col("key"), col("n_seen"),
          posexplode(col("counts")).as(Seq("bin", "cnt")))
        .select(col("key"), col("n_seen"), col("bin").cast("long").as("bin"),
          col("cnt"))
    }, Sql(
      """WITH e AS (SELECT CAST(event_type AS VARCHAR) AS key, value
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |    AND ts IS NOT NULL),
        |b AS (SELECT key, CAST(
        |    (CASE WHEN value >= 20 THEN 1 ELSE 0 END) +
        |    (CASE WHEN value >= 40 THEN 1 ELSE 0 END) +
        |    (CASE WHEN value >= 60 THEN 1 ELSE 0 END) +
        |    (CASE WHEN value >= 80 THEN 1 ELSE 0 END) AS BIGINT) AS bin
        |  FROM e),
        |n AS (SELECT key, CAST(count(*) AS BIGINT) AS n_seen
        |      FROM e GROUP BY 1),
        |grid AS (SELECT key, bin FROM (SELECT DISTINCT key FROM e)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS bin)),
        |c AS (SELECT grid.key, CAST(grid.bin AS BIGINT) AS bin,
        |    CAST(coalesce(x.cnt, 0) AS BIGINT) AS cnt
        |  FROM grid LEFT JOIN (SELECT key, bin, count(*) AS cnt
        |    FROM b GROUP BY 1, 2) x ON x.key = grid.key AND x.bin = grid.bin)
        |SELECT n.key, n_seen, bin, cnt FROM c JOIN n ON n.key = c.key""".stripMargin)),

    // ---- streaming: incremental CUSUM — two exact integer-cent
    //      longs per key; batch ≡ stream on any feed chunking ----
    // batch ≡ stream: the q281 prefix-sum identity in BIGINT cents is
    // the oracle for the incrementally-maintained state
    Gate("q288_stream_cusum", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value"), date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q288", ev)(
        df => graft.streaming.Streaming.cusumStream(
          df, "user_id", "ts", "event_id", "value",
          target = 50.0, slack = 0.0, threshold = 100.0))
      graft.streaming.Streaming.foldCusumUpdates(updates)
        .select(col("actor").as("user_id"), col("tie").as("event_id"),
          col("value"), col("cusum"), col("alarm"))
    }, Sql(
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |p AS (SELECT user_id, ts, event_id, xc,
        |    CAST(sum(xc - 5000) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS pp FROM e),
        |m AS (SELECT *, least(min(pp) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |      CAST(0 AS BIGINT)) AS mm FROM p)
        |SELECT user_id, event_id,
        |  CAST(xc AS DOUBLE) / 100.0 AS value,
        |  CAST(pp - mm AS DOUBLE) / 100.0 AS cusum,
        |  (pp - mm) > 10000 AS alarm
        |FROM m""".stripMargin)),

    // ---- streaming TWAP: six-long exact integer state per user;
    //      closed hourly buckets emit once and match batch twap ----
    // batch ≡ stream on CLOSED buckets: the q301 integer-unit batch
    // twap per user, filtered to bucket < each user's max bucket (a
    // stream only closes a bucket when a later tick arrives)
    Gate("q309_stream_twap", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value"), date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q309", ev)(
        df => graft.streaming.Streaming.twapStream(
          df, "user_id", "ts", "event_id", "value",
          unitMicros = 3600000000L))
      graft.streaming.Streaming.foldTwapUpdates(updates)
        .select(col("actor").as("user_id"), col("bucket_us"),
          col("n_ticks"), col("twap"))
    }, Sql(
      """WITH b AS (SELECT user_id,
        |    epoch_us(date_trunc('hour', ts)) AS bu,
        |    epoch_us(ts) AS t, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL AND value IS NOT NULL),
        |w AS (SELECT *, coalesce(lead(t) OVER (PARTITION BY user_id,
        |    bu ORDER BY t, event_id), bu + 3600000000) - t AS wt
        |  FROM b),
        |g AS (SELECT user_id, bu, CAST(count(*) AS BIGINT) AS n_ticks,
        |    CAST(sum(vc * wt) AS DOUBLE) / CAST(sum(wt) AS DOUBLE)
        |      / 100.0 AS twap
        |  FROM w GROUP BY 1, 2),
        |f AS (SELECT *, max(bu) OVER (PARTITION BY user_id) AS mx
        |  FROM g)
        |SELECT user_id, bu AS bucket_us, n_ticks, twap
        |FROM f WHERE bu < mx""".stripMargin)),

    // ---- streaming: Holt keyed state — (n, level, trend), batch ≡
    //      stream, the 14th streaming state operator ----
    // the engine's (n, level, trend) stream state replayed as a
    // per-key fold: seed [1, x0, 0], then the same pinned
    // l' = a*x + (1-a)(l+b), b' = B(l'-l) + (1-B)b chains with
    // in-expression complements; final row = max-n state
    Gate("q376_stream_holt", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value"), date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q376", ev)(
        df => graft.streaming.Streaming.holtStream(
          df, "user_id", "ts", "event_id", "value",
          alpha = 0.3, beta = 0.1))
      graft.streaming.Streaming.foldHoltUpdates(updates)
        .select(col("actor").as("user_id"), col("n"), col("level"),
          col("trend"), col("forecast"))
    }, Sql(
      """WITH b AS (SELECT user_id AS k, ts, event_id,
        |    CAST(value AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND user_id IS NOT NULL),
        |f AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    list_reduce(list_prepend([0.0, 0.0, 0.0],
        |      list([v] ORDER BY ts, event_id)),
        |    (acc, p) -> CASE WHEN acc[1] = 0.0
        |      THEN [1.0, p[1], 0.0]
        |      ELSE [acc[1] + 1.0,
        |        CAST(0.3 AS DOUBLE) * p[1]
        |          + (1.0 - CAST(0.3 AS DOUBLE)) * (acc[2] + acc[3]),
        |        CAST(0.1 AS DOUBLE)
        |          * (CAST(0.3 AS DOUBLE) * p[1]
        |            + (1.0 - CAST(0.3 AS DOUBLE)) * (acc[2] + acc[3])
        |            - acc[2])
        |          + (1.0 - CAST(0.1 AS DOUBLE)) * acc[3]] END) AS m
        |  FROM b GROUP BY 1)
        |SELECT k AS user_id, n, m[2] AS level, m[3] AS trend,
        |  m[2] + 1.0 * m[3] AS forecast
        |FROM f""".stripMargin)),

    // ---- streaming: bottom-k keyed state — the 16th streaming
    //      state operator; mergeable sketch, order-free parity ----
    // the stream's mergeable sketch replayed flat: per-key row count
    // + the k smallest (hash, id) ids exploded with positions
    Gate("q402_stream_bottom_k", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_id").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q402", ev)(
        df => graft.streaming.Streaming.bottomKStream(
          df, "user_id", "event_id", k = 5))
      graft.streaming.Streaming.foldBottomKUpdates(updates)
        .select(col("actor").as("user_id"), col("n_seen"),
          posexplode(col("ids")).as(Seq("pos", "event_id")))
    }, Sql(
      """WITH b AS (SELECT user_id AS k, event_id AS id FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL),
        |n AS (SELECT k, CAST(count(*) AS BIGINT) AS n_seen
        |  FROM b GROUP BY 1),
        |d AS (SELECT DISTINCT k, id FROM b),
        |h AS (SELECT k, id,
        |    ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT
        |      AS hv
        |  FROM d),
        |r AS (SELECT k, id, row_number() OVER (PARTITION BY k
        |    ORDER BY hv, id) AS rn FROM h)
        |SELECT r.k AS user_id, n.n_seen, CAST(rn - 1 AS INT) AS pos,
        |  id AS event_id
        |FROM r JOIN n ON n.k = r.k WHERE rn <= 5""".stripMargin)),

    // ---- streaming: tracking-signal keyed state — three integer-
    //      cent registers, the 15th streaming state operator ----
    // order-free per-key cent sums: the stream's fold state replayed
    // as plain aggregation (the strongest batch = stream parity)
    Gate("q394_stream_tracking_signal", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull && col("event_id").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value"),
          (col("value") + (pmod(col("event_id"), lit(5L)) - lit(2L))
            .cast("double")).as("fc"),
          date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q394", ev)(
        df => graft.streaming.Streaming.trackingSignalStream(
          df, "user_id", "ts", "event_id", "value", "fc"))
      graft.streaming.Streaming.foldTrackingUpdates(updates)
        .select(col("actor").as("user_id"), col("n"), col("cum_error"),
          col("mad"), col("tracking_signal"))
    }, Sql(
      """WITH b AS (SELECT user_id AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS ac,
        |    CAST(CAST(value + CAST(((event_id % 5) + 5) % 5 - 2
        |      AS DOUBLE) AS DECIMAL(18,2)) * 100 AS BIGINT) AS fc
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL AND event_id IS NOT NULL),
        |m AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    sum(ac - fc) AS se, sum(abs(ac - fc)) AS sae
        |  FROM b GROUP BY 1),
        |z AS (SELECT k, n, CAST(n AS DOUBLE) AS ndb,
        |    CAST(CAST(se AS VARCHAR) AS DOUBLE) AS dse,
        |    CAST(CAST(sae AS VARCHAR) AS DOUBLE) AS dae FROM m)
        |SELECT k AS user_id, n, dse / 100.0 AS cum_error,
        |  dae / ndb / 100.0 AS mad,
        |  CASE WHEN dae > 0.0 THEN dse / (dae / ndb) END
        |    AS tracking_signal
        |FROM z""".stripMargin)),

    // ---- streaming: MACD keyed state — (n, ef, es, sg) registers,
    //      batch ≡ stream, the 13th streaming state operator ----
    // the engine's three-register stream state replayed as a per-key
    // fold: seed [1, x0, x0, +0], then the same pinned e + a(x-e)
    // chains with alphas 2/(span+1); final row = max-n state
    Gate("q360_stream_macd", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value"), date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q360", ev)(
        df => graft.streaming.Streaming.macdStream(
          df, "user_id", "ts", "event_id", "value"))
      graft.streaming.Streaming.foldMacdUpdates(updates)
        .select(col("actor").as("user_id"), col("n"), col("macd"),
          col("signal"), col("histogram"))
    }, Sql(
      """WITH b AS (SELECT user_id AS k, ts, event_id,
        |    CAST(value AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND user_id IS NOT NULL),
        |f AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    list_reduce(list_prepend([0.0, 0.0, 0.0, 0.0],
        |      list([v] ORDER BY ts, event_id)),
        |    (acc, p) -> CASE WHEN acc[1] = 0.0
        |      THEN [1.0, p[1], p[1], p[1] - p[1]]
        |      ELSE [acc[1] + 1.0,
        |        acc[2] + 2.0 / (12.0 + 1.0) * (p[1] - acc[2]),
        |        acc[3] + 2.0 / (26.0 + 1.0) * (p[1] - acc[3]),
        |        acc[4] + 2.0 / (9.0 + 1.0)
        |          * (acc[2] + 2.0 / (12.0 + 1.0) * (p[1] - acc[2])
        |             - (acc[3] + 2.0 / (26.0 + 1.0) * (p[1] - acc[3]))
        |             - acc[4])] END) AS m
        |  FROM b GROUP BY 1)
        |SELECT k AS user_id, n, m[2] - m[3] AS macd, m[4] AS signal,
        |  m[2] - m[3] - m[4] AS histogram
        |FROM f""".stripMargin)),

    // ---- streaming: Page-Hinkley keyed state — (n, Σcents, m, min m,
    //      latch) per key, batch ≡ stream, ordered single-file triggers ----
    // the q338 walk keyed by user_id (the stream's final state per
    // key IS the batch answer; the stream gate folds its update log
    // to the max-n row before comparing)
    Gate("q343_stream_page_hinkley", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value"), date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q343", ev)(
        df => graft.streaming.Streaming.pageHinkleyStream(
          df, "user_id", "ts", "event_id", "value",
          delta = 0.5, lambda = 200.0))
      graft.streaming.Streaming.foldPageHinkleyUpdates(updates)
        .select(col("actor").as("user_id"), col("n"), col("mean"),
          col("ph"), col("alarm_at"))
    }, Sql(
      """WITH b AS (SELECT user_id AS k, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND user_id IS NOT NULL),
        |f AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    list_reduce(list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
        |      list([CAST(vc AS DOUBLE)] ORDER BY ts, event_id)),
        |    (acc, p) -> [acc[1] + 1.0, acc[2] + p[1],
        |      acc[3] + (p[1] - (acc[2] + p[1]) / (acc[1] + 1.0) - 50.0),
        |      least(acc[4], acc[3] + (p[1] - (acc[2] + p[1])
        |        / (acc[1] + 1.0) - 50.0)),
        |      CASE WHEN acc[5] > 0.0 THEN acc[5]
        |        WHEN (acc[3] + (p[1] - (acc[2] + p[1]) / (acc[1] + 1.0)
        |            - 50.0))
        |          - least(acc[4], acc[3] + (p[1] - (acc[2] + p[1])
        |            / (acc[1] + 1.0) - 50.0)) > 20000.0
        |        THEN acc[1] + 1.0 ELSE 0.0 END]) AS m
        |  FROM b GROUP BY 1)
        |SELECT k AS user_id, n, m[2] / m[1] / 100.0 AS mean,
        |  (m[3] - m[4]) / 100.0 AS ph,
        |  CASE WHEN m[5] > 0.0 THEN CAST(m[5] AS BIGINT) END AS alarm_at
        |FROM f""".stripMargin))
  )
}
