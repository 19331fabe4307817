package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Filters => F, Transforms => T}
import graft.agg.GroupBy
import graft.join.Joins
import graft.cdc.CDC
import graft.scd.SCD
import graft.quality.Quality
import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis => TA}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
 *
 * Every entry in [[queries]] is an operator from SURVEY.md §2 expressed
 * through the graft library; [[oracleSql]] holds the DuckDB-equivalent SQL
 * the driver hash-compares against at sf0.01.
 *
 * Determinism conventions (double vs decimal):
 *  - any SUM/AVG over a double column goes through DECIMAL (exact in both
 *    engines for 2-decimal money values), then back to double;
 *  - window/sort orders always end in a unique key (orderkey, linenumber).
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Exact sum of a 2-decimal double column, as double. */
  private def dsum(c: String): org.apache.spark.sql.Column =
    sum(col(c).cast("decimal(18,2)")).cast("double")

  /** State-store partition count for the micro-batch streaming gates
   *  (the `statePartitions` deployment knob on every
   *  `Streaming.runBatchAsStream*` / `ChangeFeed.materialize` call —
   *  see Streaming's docstring for the sizing contract: a state store
   *  instance per partition pays init + per-batch commit, so gate-scale
   *  keyspaces want a handful, a 100 TB keyed stream wants hundreds).
   *  One shared definition so the in-JVM A/B harness can vary it via
   *  `-Dgraft.gate.statePartitions=N` without recompiling.
   *
   *  Default 4 (r20, was 8): the r19 verdict #3 in-JVM alternating A/B
   *  over six micro-batch gates measured warm per-trigger
   *  `triggerExecution` 394 → 344 ms (addBatch 274 → 227 ms — fewer
   *  state-store instances paying init + commit per trigger), best-of
   *  gate walls flat-or-better on 5 of 6 gates. The value is keyspace
   *  sizing (gate feeds hold ≤ a few thousand keys), independent of
   *  the session's core count — a production keyed stream overrides
   *  per deployment as documented. Results are partition-count
   *  invariant (exact folds; re-proven by the oracle gate). */
  private def gateStateParts: Option[Int] =
    Some(sys.props.get("graft.gate.statePartitions")
      .flatMap(_.toIntOption).getOrElse(4))

  /** Temp dir for gate plumbing (stream sinks, change feeds),
   *  registered for RECURSIVE deletion at JVM exit through Hadoop's
   *  `FileSystem.deleteOnExit`. Gates return LAZY frames that read
   *  these dirs when the caller finally acts, so eager cleanup is
   *  impossible — but without exit-time cleanup every bench iteration
   *  leaves full table copies in /tmp (the on-disk sibling of the
   *  in-JVM litter Bench.isolate() exists to clear). */
  private def gateTempDir(s: SparkSession, prefix: String): String = {
    // FIXED path per gate PER PROCESS, deleted and recreated at
    // closure entry: bounds disk to ONE table copy per gate however
    // many bench iterations run (each iteration fully consumes its
    // frame before the next calls the closure again), with exit-time
    // cleanup for the final copy. The pid component keeps two
    // concurrent drivers on one box (bench + correctness run) from
    // deleting each other's live feed/checkpoint/sink dirs mid-query.
    val dir = java.nio.file.Path.of(
      System.getProperty("java.io.tmpdir"),
      s"graft_gate_${ProcessHandle.current().pid()}_$prefix").toString
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    fs.mkdirs(p)
    fs.deleteOnExit(p)
    dir
  }

  /** The ordered feed of the micro-batch gates: `ev` (with an `hr`
   *  column) written as 6 hour-ranged parquet files, then `transform`
   *  run over them as a real stream, one file per trigger, in Update
   *  mode through [[graft.streaming.Streaming.runUpdateStreamFiles]]
   *  (`append`: Append mode through `runBatchAsStreamFiles`). Returns
   *  the sink's frame.
   *
   *  File part-0000N holds range partition N (ascending hr), and the
   *  files get strictly increasing mtimes, so listing order is
   *  chronological order: every key's rows arrive in time order, the
   *  contract the keyed-state operators' exactness needs, and a
   *  watermark only ever trails the incoming data. That REQUIRES one
   *  file per range partition — a partition split across files would
   *  put one hr-range into two micro-batches — so the invariant is
   *  guarded against writer changes like a session-level
   *  maxRecordsPerFile. */
  private def orderedFeed(s: SparkSession, gate: String, ev: DataFrame,
                          append: Boolean = false)(
      transform: DataFrame => DataFrame): DataFrame = {
    val tmp = gateTempDir(s, s"graft_$gate")
    ev.repartitionByRange(6, col("hr")).write.parquet(s"$tmp/in")
    val files = new java.io.File(s"$tmp/in").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val partIdx = files.map(_.getName.stripPrefix("part-").take(5))
    require(partIdx.distinct.length == partIdx.length,
      s"$gate: range partition split across files (${files.length} files)")
    val t0 = System.currentTimeMillis() - 3600000L
    files.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(t0 + i * 10000L) }
    val schema = s.read.parquet(s"$tmp/in").schema
    val run =
      if (append) graft.streaming.Streaming.runBatchAsStreamFiles _
      else graft.streaming.Streaming.runUpdateStreamFiles _
    run(s, s"$tmp/in", schema, transform, s"$tmp/run", gateStateParts,
      Map("maxFilesPerTrigger" -> "1"))
  }

  /** Loopback HTTP fixture for the q115 DSv2 gate: serves `rows` as
   *  offset-paginated JSONL (`?offset=N&limit=pageSize` slices, empty
   *  body past the end — the contract `graft-http` offset pagination
   *  plans against). Returns (server, baseUrl); caller stops the
   *  server after materializing. */
  private def jsonlPageServer(rows: Array[String],
                              pageSize: Int): (com.sun.net.httpserver.HttpServer, String) = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/data", new com.sun.net.httpserver.HttpHandler {
      def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val offset = q.split("&").collectFirst {
          case kv if kv.startsWith("offset=") => kv.stripPrefix("offset=").toInt
        }.getOrElse(0)
        val body = rows.slice(offset, offset + pageSize).mkString("\n")
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    (server, s"http://127.0.0.1:${server.getAddress.getPort}/data")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_groupby_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.4 aggregation: multi-key groupBy w/ count/sum/avg/min/max ----
    "q01_groupby_agg" -> ((s, dir) => {
      GroupBy("l_returnflag", "l_linestatus")
        .count("n")
        .agg(dsum("l_quantity").as("sum_qty"))
        .agg(dsum("l_extendedprice").as("sum_price"))
        .agg((sum(col("l_discount").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_disc"))
        .min("l_quantity", "min_qty")
        .max("l_extendedprice", "max_price")
        .apply(t(s, dir, "lineitem"))
    }),

    // ---- §2.4 global aggregate: one aggregator over all input, 1 row ----
    "q02_global_agg" -> ((s, dir) => {
      GroupBy.global(
        count(lit(1)).as("n_rows"),
        dsum("l_extendedprice").as("total_price"),
        min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"),
        count_distinct(col("l_orderkey")).as("n_orders")
      )(t(s, dir, "lineitem"))
    }),

    // ---- §2.2 filters: in/between/contains/startsWith/regex/combinators ----
    "q03_filter_chain" -> ((s, dir) => {
      t(s, dir, "part").filter(
        F.and(
          F.in("p_type", "ECONOMY", "PROMO"),
          F.between("p_size", 5, 30),
          F.or(F.contains("p_name", "widget"), F.startsWith("p_name", "large")),
          F.not(F.endsWith("p_brand", "#13")),
          F.matchesRegex("p_name", "^[a-z]+ [a-z]+$"),
          F.notNull("p_brand"),
          F.greaterThan("p_retailprice", 901.0)))
    }),

    // ---- §2.2 transforms: select/rename/addField/casts/trim/upper/lower ----
    "q04_transforms" -> ((s, dir) => {
      t(s, dir, "customer")
        .transform(T.select("c_custkey", "c_name", "c_mktsegment", "c_acctbal", "c_nationkey"))
        .transform(T.toUpper("c_name"))
        .transform(T.toLower("c_mktsegment"))
        .transform(T.addField("bal_bucket",
          when(col("c_acctbal") < 0, "negative")
            .when(col("c_acctbal") < 5000, "low").otherwise("high")))
        .transform(T.addField("nation_str", col("c_nationkey").cast("string")))
        .transform(T.removeFields("c_nationkey"))
        .transform(T.rename(Map("c_name" -> "name", "c_mktsegment" -> "segment")))
    }),

    // ---- §2.2 ParseTime + §2.6 JSON path extraction + date parts ----
    "q05_time_json" -> ((s, dir) => {
      t(s, dir, "events")
        .transform(T.addField("k", get_json_object(col("props"), "$.k").cast("long")))
        .transform(T.addField("ts_str", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")))
        .transform(T.parseTime("ts_str", "yyyy-MM-dd HH:mm:ss"))
        .select(
          col("event_id"),
          col("k"),
          col("ts_str").as("ts_sec"),
          year(col("ts")).as("y"),
          month(col("ts")).as("m"),
          dayofmonth(col("ts")).as("d"),
          hour(col("ts")).as("h"))
    }),

    // ---- §2.3 inner join (multi-table, then agg) ----
    "q06_join_inner" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
      GroupBy("o_orderstatus")
        .count("n_items")
        .agg(dsum("l_extendedprice").as("revenue"))
        .apply(Joins.join(li, o, Seq("l_orderkey"), "inner"))
    }),

    // ---- §2.3 left join (all customers, order counts incl. zero) ----
    "q07_join_left" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
      Joins.join(c, o, Seq("c_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), lit(0.0))
            .as("total_spent"))
    }),

    // ---- §2.3 full outer join w/ unmatched rows on both sides ----
    "q08_join_full" -> ((s, dir) => {
      val left = t(s, dir, "part").filter(col("p_partkey") < 120)
        .select(col("p_partkey").as("pk"), col("p_name"))
      val right = t(s, dir, "lineitem").filter(col("l_partkey").between(80, 200))
        .groupBy(col("l_partkey").as("pk")).agg(count(lit(1)).as("n_li"))
      Joins.join(left, right, Seq("pk"), "full")
    }),

    // ---- §2.3 semi/anti join (exists / not-exists) ----
    "q09_join_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
      val semi = Joins.join(c, o, Seq("c_custkey"), "semi")
        .select(col("c_custkey"), lit("has_orders").as("status"))
      val anti = Joins.join(c, o, Seq("c_custkey"), "anti")
        .select(col("c_custkey"), lit("no_orders").as("status"))
      semi.unionByName(anti)
    }),

    // ---- §2.3 lookup/enrichment: broadcast dim join, no fact shuffle ----
    "q10_lookup" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").withColumnRenamed("l_suppkey", "s_suppkey")
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      Joins.lookup(Joins.lookup(li, sup, Seq("s_suppkey")),
          nat.withColumnRenamed("n_nationkey", "s_nationkey"), Seq("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"), dsum("l_extendedprice").as("revenue"))
    }),

    // ---- §2.5 union (multi-parent fan-in ⇒ UNION ALL by name) ----
    "q11_union" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          lit("customer").as("src"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("id"), col("s_name").as("name"),
          lit("supplier").as("src"))
      Joins.unionAll(Seq(c, sup))
    }),

    // ---- §2.5 window functions: row_number/rank/running sum, top-k/group ----
    "q12_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // (shipdate, orderkey, linenumber) alone is NOT unique per
      // supplier in the fixture (one collision at sf0.1) — l_quantity
      // closes the chain over every column the output consults, making
      // rn/running_qty an engine-independent multiset
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("running_qty",
          sum(col("l_quantity").cast("decimal(18,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .filter(col("rn") <= 5)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"),
          col("l_linenumber"), col("running_qty"))
    }),

    // ---- §2.5 sort + limit (top-k) ----
    "q13_sort_limit" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),

    // ---- §2.5 distinct ----
    "q14_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()
    }),

    // ---- §2.2 ConvertType / convenience casts (incl. failure→null) ----
    "q15_casts" -> ((s, dir) => {
      t(s, dir, "orders")
        .transform(T.addField("qty_int", col("o_totalprice").cast("long")))
        .transform(T.addField("key_str", col("o_orderkey").cast("string")))
        // exception-free parse kernel: try_cast's TRY wrapper throws
        // per failing row (~8× on an all-invalid column like this one);
        // equivalence with try_cast is unit-tested corner-by-corner
        .transform(T.addField("prio_num",
          graft.functions.ParseExpressions.tryToInt(col("o_orderpriority"))))
        .select(col("o_orderkey"), col("qty_int"), col("key_str"), col("prio_num"))
    }),

    // ---- tumbling-window event aggregation (batch form of §2.11) ----
    "q16_event_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    }),

    // ---- §2.7 CDC: snapshot diff, INSERT/UPDATE/DELETE via full join ----
    "q17_cdc" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val dec = col("o_totalprice").cast("decimal(18,2)")
      val prev = base.filter(col("o_orderkey") % 10 <= 7)
        .withColumn("o_totalprice", dec.cast("double"))
      val cur = base.filter(col("o_orderkey") % 10 >= 1)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, (dec + lit(BigDecimal("10.00"))).cast("double"))
            .otherwise(dec.cast("double")))
      CDC.changes(cur, prev, Seq("o_orderkey"),
        Seq("o_totalprice", "o_orderstatus"), changeTimestamp = None)
    }),

    // ---- §2.8 SCD Type 2: close-and-insert row versioning ----
    "q18_scd2" -> ((s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
      val dimCur = c.filter(col("c_custkey") % 4 =!= 0)
        .withColumn("effective_from", lit("2020-01-01"))
        .withColumn("effective_to", lit("9999-12-31"))
        .withColumn("is_current", lit(true))
      // Historical rows: must be ignored by the current-only index.
      val dimHist = c.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_mktsegment", lit("ANCIENT"))
        .withColumn("effective_from", lit("2015-01-01"))
        .withColumn("effective_to", lit("2019-12-31"))
        .withColumn("is_current", lit(false))
      val source = c.filter(col("c_custkey") % 2 === 0)
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 3 === 0, lit("SEG_NEW")).otherwise(col("c_mktsegment")))
      SCD.scd2(source, dimCur.unionByName(dimHist),
        Seq("c_custkey"), Seq("c_mktsegment"), today = "2024-06-01")
    }),

    // ---- §2.8 SCD Type 3: previous_-value columns + version bump ----
    "q19_scd3" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val source = c.filter(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name", "c_mktsegment")
      val dim = c.filter(col("c_custkey") % 4 =!= 0)
        .select(col("c_custkey"),
          concat(lit("OLD_"), col("c_mktsegment")).as("c_mktsegment"),
          (col("c_custkey") % 3 + 1).cast("int").as("version"))
      SCD.scd3(source, dim, Seq("c_custkey"), Seq("c_mktsegment"))
    }),

    // ---- §2.9 data quality: whole rule set in ONE aggregation pass ----
    "q20_quality" -> ((s, dir) => {
      Quality.metrics(t(s, dir, "lineitem"), Quality.Config(
        maxNullRate = 0.5, nullRateFields = Seq("l_shipdate"),
        rules = Seq(
          Quality.FieldRule("l_quantity", min = Some(1.0), max = Some(50.0)),
          Quality.FieldRule("l_discount", min = Some(0.0), max = Some(0.1)),
          Quality.FieldRule("l_returnflag", allowed = Seq("A", "N", "R")),
          Quality.FieldRule("l_linestatus", pattern = Some("^[FO]$")),
          Quality.FieldRule("l_shipdate", notNull = true))))
    }),

    // ---- LLM ops: exact dedup (hash-groupBy, min-id representative) ----
    "q21_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), Seq("lang", "source"), "doc_id")
    }),

    // ---- LLM ops: token counting + quality scoring + fingerprint ----
    "q22_text_metrics" -> ((s, dir) => {
      val text = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TA.tokenCount(text).as("n_tokens"),
        TA.bpeTokenCount(text).as("n_bpe"),
        TA.uniqueTokenCount(text).as("n_uniq"),
        TA.meanTokenLength(text).as("mean_len"),
        TA.punctRatio(text).as("punct_ratio"),
        TA.stopwordRatio(text, TA.EnglishStopwords).as("stop_ratio"),
        TA.qualityScore(text).as("quality"),
        TA.fingerprint(text).as("fp"))
    }),

    // ---- LLM ops: n-gram-heuristic language ID ----
    "q23_langid" -> ((s, dir) => {
      val text = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TA.langHits(text, TA.LangMarkers(0)._2).as("en_hits"),
        TA.langHits(text, TA.LangMarkers(1)._2).as("es_hits"),
        TA.langHits(text, TA.LangMarkers(2)._2).as("de_hits"),
        TA.langHits(text, TA.LangMarkers(3)._2).as("fr_hits"),
        TA.langId(text).as("pred"))
    }),

    // ---- LLM ops: MinHash+LSH near-dup (band bucket join + verify) ----
    "q24_minhash" -> ((s, dir) => {
      Dedup.minHashDedup(t(s, dir, "documents"), "doc_id", "text",
        k = 32, bands = 8, shingleN = 3, threshold = 0.5)
    }),

    // ---- LLM ops: screening-mode minhash — signature-ESTIMATED
    //      jaccard on banded candidates, no verification pass (the
    //      first-sweep mode at 100 TB; q24 gates the verified mode) ----
    "q75_minhash_est" -> ((s, dir) => {
      Dedup.minHashEstPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 32, bands = 8, shingleN = 3, estThreshold = 0.5)
    }),

    // ---- LLM ops: SimHash fingerprint (16-bit, hash-once form) ----
    "q25_simhash" -> ((s, dir) => {
      Dedup.simHashSignatures(t(s, dir, "documents"), "doc_id", "text", bits = 16)
    }),

    // ---- LLM ops: blocked n-gram Jaccard near-dup pairs ----
    "q26_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        blockCols = Seq("lang"), shingleN = 3, threshold = 0.5)
    }),

    // ---- LLM ops: brute-force cosine top-k similarity search ----
    "q27_embedding_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
    }),

    // ---- LLM ops: two-stage QUANTIZED top-k — int8 coarse cosine
    //      (scale-free, 4× smaller corpus footprint) cuts to 20
    //      candidates/query, float re-rank orders the final 5; every
    //      stage deterministic, so the oracle replays the identical
    //      two-stage algorithm ----
    "q112_quantized_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.quantizedTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, candidates = 20)
    }),

    // ---- LLM ops: multimodal binary columns (codegen'd facts) ----
    "q28_multimodal" -> ((s, dir) => {
      val m = Multimodal.attach(t(s, dir, "documents"), "doc_id",
        col("text"), "text/plain")
      m.select(col("media_id").as("doc_id"),
        Multimodal.byteLength(col("content")).as("n_bytes"),
        Multimodal.digest(col("content")).as("digest"),
        (TA.md5i(col("content").cast("string")) % 256).as("feature0"))
    }),

    // ---- LLM ops: embedding-cosine near-dup pairs (label-blocked) ----
    "q29_embedding_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
        blockCols = Seq("label"), threshold = 0.35)
    }),

    // ---- LLM ops: LSH-bucketed approximate top-k (rows-only check:
    //      the scale path; exactness covered by q27) ----
    "q30_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 3, bits = 6)
    }),

    // ---- §2.1/§2.10 CSV + JSONL source/sink roundtrip (identity) ----
    "q31_roundtrip" -> ((s, dir) => {
      import graft.sources.Sources
      import graft.sinks.Sinks
      val nation = t(s, dir, "nation")
      val tmp = s"/tmp/graft_roundtrip_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Sinks.csv(nation, s"$tmp/csv", header = true, delimiter = "|")
      val fromCsv = Sources.csv(s, s"$tmp/csv",
        Sources.CsvOptions(header = true, delimiter = "|"),
        schema = Some(nation.schema))
      Sinks.jsonl(fromCsv, s"$tmp/jsonl")
      Sources.jsonl(s, s"$tmp/jsonl", schema = Some(nation.schema))
    }),

    // ---- §2.1/§2.10 ORC source/sink roundtrip (identity; ORC ships
    //      with Spark — warehouse migrations routinely carry it) ----
    // ---- §2.10+ Z-ORDERED parquet layout: every output file covers a
    //      compact window in BOTH z dimensions (multi-dim scan pruning
    //      at 100 TB); content is layout-invariant — the oracle reads
    //      the same rows straight from the source table ----
    "q83_zorder_roundtrip" -> ((s, dir) => {
      import graft.sinks.Sinks
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val tmp = s"/tmp/graft_zorder_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Sinks.parquetZOrdered(o, tmp, Seq("o_custkey", "o_totalprice"),
        files = 8)
      s.read.parquet(tmp)
    }),

    // ---- §2.10+ zstd parquet roundtrip — the petabyte-corpus codec
    //      (better ratio than snappy at comparable scan speed);
    //      exercises the codec plumbing end-to-end ----
    "q103_zstd_roundtrip" -> ((s, dir) => {
      import graft.sinks.Sinks
      val tmp = s"/tmp/graft_zstd_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Sinks.parquet(t(s, dir, "supplier"), tmp, compression = "zstd")
      s.read.parquet(tmp)
    }),

    // ---- §2.1+ SCHEMA EVOLUTION: an old batch written without a
    //      column, a new batch with it — mergeSchema reconciles; old
    //      rows surface null for the later column (the append-only
    //      lakehouse contract) ----
    "q97_schema_evolution" -> ((s, dir) => {
      val tmp = s"/tmp/graft_evo_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val nation = t(s, dir, "nation")
      nation.filter(col("n_nationkey") < 10)
        .select("n_nationkey", "n_name")
        .write.mode("overwrite").parquet(s"$tmp/b=1")
      nation.filter(col("n_nationkey") >= 10)
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").parquet(s"$tmp/b=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .select("n_nationkey", "n_name", "n_regionkey")
    }),

    // ---- §2.1/§2.10 hive-partitioned parquet roundtrip: write
    //      partitionBy(lang), read back filtered — the partition
    //      filter must prune directories at PLANNING time (guarded:
    //      PartitionFilters non-empty, pruned scan), the 100 TB
    //      layout for coarse selective dimensions ----
    "q91_partitioned_scan" -> ((s, dir) => {
      import graft.sinks.Sinks
      val tmp = s"/tmp/graft_part_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Sinks.parquet(t(s, dir, "documents"), tmp, partitionBy = Seq("lang"))
      s.read.parquet(tmp)
        .filter(col("lang").isin("en", "de"))
        .select("doc_id", "lang", "source", "n_chars")
    }),

    // ---- §2.3+ DYNAMIC partition pruning: fact partitioned on the
    //      join key, dim filtered at runtime — the fact scan's
    //      PartitionFilters carry a dynamicpruning subquery (guarded),
    //      so only the dim's partitions are ever read. THE join
    //      pattern for date/status-partitioned 100 TB facts ----
    "q92_dynamic_pruning" -> ((s, dir) => {
      import graft.sinks.Sinks
      val tmp = s"/tmp/graft_dpp_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Sinks.parquet(t(s, dir, "orders"), tmp,
        partitionBy = Seq("o_orderpriority"))
      val fact = s.read.parquet(tmp)
        .select("o_orderpriority", "o_totalprice")
      val dim = t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderstatus")).distinct()
        .filter(col("o_orderstatus") === "F")
      fact.join(dim, Seq("o_orderpriority"))
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))
    }),

    "q70_orc_roundtrip" -> ((s, dir) => {
      import graft.sources.Sources
      import graft.sinks.Sinks
      val region = t(s, dir, "region")
      val tmp = s"/tmp/graft_orc_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Sinks.orc(region, tmp, compression = "zlib")
      Sources.orc(s, tmp, columns = Seq("r_regionkey", "r_name"))
    }),

    // ---- §2.1/§2.10 XML roundtrip (Spark 4 built-in source; explicit
    //      read schema — XML carries none, so the roundtrip must pin
    //      types; gzip-compressed shards) ----
    "q77_xml_roundtrip" -> ((s, dir) => {
      import graft.sources.Sources
      import graft.sinks.Sinks
      val nation = t(s, dir, "nation")
      val tmp = s"/tmp/graft_xml_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Sinks.xml(nation, tmp, rowTag = "nation", compression = "gzip")
      Sources.xml(s, tmp, rowTag = "nation",
        schemaDdl = Some(nation.schema.toDDL))
        .select(nation.columns.map(col).toIndexedSeq: _*)
    }),

    // ---- §2.1/§2.10 raw-text roundtrip (gzip shards — the corpus
    //      interchange format; doc text has no newlines, so one doc =
    //      one line survives the trip exactly) ----
    "q71_text_roundtrip" -> ((s, dir) => {
      import graft.sources.Sources
      import graft.sinks.Sinks
      val tmp = s"/tmp/graft_text_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Sinks.text(t(s, dir, "documents").select("text"), tmp,
        compression = "gzip")
      Sources.text(s, tmp)
    }),

    // ---- §2.1/§2.10 JDBC end-to-end: write to an embedded Derby
    //      database, read back through the partitioned JDBC scan ----
    "q72_jdbc_roundtrip" -> ((s, dir) => {
      import graft.sources.Sources
      import graft.sinks.Sinks
      val url = s"jdbc:derby:memory:graft_${dir.replaceAll("[^a-zA-Z0-9]", "_")};create=true"
      Sinks.jdbcAppend(t(s, dir, "nation"), url, "nation_rt", mode = "overwrite")
      Sources.jdbc(s, url, "nation_rt",
        partitioning = Some(Sources.JdbcPartitioning("n_nationkey", 0L, 25L, 4)))
    }),

    // ---- §2.10 JDBC UPSERT executed for real: embedded DuckDB parses
    //      exactly the Postgres `INSERT … ON CONFLICT` the builder
    //      emits (Derby, q72's engine, cannot). Steps: seed the EVEN
    //      suppliers into a PK'd table; re-upsert them under DO
    //      NOTHING (every row must conflict, zero inserts — telemetry
    //      checked); then DO UPDATE upsert of ALL suppliers with
    //      shifted acctbal and a renamed name column — evens take the
    //      UPDATE path (acctbal moves, name does NOT — it is not in
    //      the update set), odds take the INSERT path (both move).
    //      The readback hash only matches if partial-column update
    //      semantics executed correctly (reference
    //      `writers/postgresql.go:529-663`). ----
    "q104_jdbc_upsert" -> ((s, dir) => {
      import graft.sources.Sources
      import graft.sinks.Sinks
      // UNIQUE path per invocation: a repeated invocation on the same
      // path would race the PREVIOUS run's async DuckDB instance
      // shutdown (triggered when its last connection closed); a fresh
      // file sidesteps the instance cache entirely. Best-effort
      // cleanup below keeps /tmp from accumulating.
      val dbPath = s"/tmp/graft_duck_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${System.nanoTime}.db"
      val url = s"jdbc:duckdb:$dbPath"
      // ANCHOR connection held for the whole gate: embedded DuckDB
      // (1.0.0) caches one database instance per path in-process and
      // shuts it down when the LAST connection closes; a step opening
      // a fresh connection can race that async shutdown/checkpoint and
      // observe a stale or empty database (seen in practice as evens
      // taking the INSERT path, or an empty readback). Pinning one
      // connection keeps every step — and the readback — on the same
      // live instance. Server-grade targets (Postgres) have no such
      // instance lifecycle; the anchor is embedded-engine scaffolding,
      // not operator semantics.
      graft.sources.DuckDbDialect.registered
      val anchor = java.sql.DriverManager.getConnection(url)
      try {
        Sinks.jdbcCreateTable(url, "supplier_up",
          "s_suppkey BIGINT, s_name VARCHAR, s_nationkey INTEGER, s_acctbal DOUBLE",
          primaryKey = Seq("s_suppkey"), replace = true)
        val sup = t(s, dir, "supplier")
        // single writer partition: embedded DuckDB uses optimistic
        // concurrency — parallel INSERT transactions on one table abort
        // each other (against a server-grade target, partitions scale
        // out to its comfortable concurrent-writer count instead)
        val evens = sup.filter(col("s_suppkey") % 2 === 0).coalesce(1)
        Sinks.jdbcAppend(evens, url, "supplier_up", mode = "append")
        val ig = Sinks.jdbcUpsert(evens, url, "supplier_up",
          Sinks.ConflictIgnore(Seq("s_suppkey")))
        require(ig.inserted == 0 && ig.conflicted == evens.count(),
          s"DO NOTHING upsert must conflict on every seeded row, got $ig")
        val shifted = sup
          .withColumn("s_acctbal", col("s_acctbal") + 100.0)
          .withColumn("s_name", concat(col("s_name"), lit("_v2")))
          .coalesce(1)
        val up = Sinks.jdbcUpsert(shifted, url, "supplier_up",
          Sinks.ConflictUpdate(Seq("s_suppkey"), Seq("s_acctbal")))
        require(up.failedRows == 0 && up.failedBatches == 0,
          s"DO UPDATE upsert must not fail rows, got $up")
        // materialize the readback WHILE the instance is pinned — the
        // returned frame must not lazily re-open DuckDB after the
        // anchor closes
        val back = Sources.jdbc(s, url, "supplier_up")
        val rows = back.collect().toSeq
        s.createDataFrame(java.util.Arrays.asList(rows: _*), back.schema)
      } finally {
        anchor.close()
        // BEST-EFFORT cleanup: the close above starts DuckDB's async
        // shutdown, whose final checkpoint can recreate files after an
        // immediate unlink — deleteOnExit backstops whatever survives
        // (per-run names mean nothing ever reads these again)
        Seq(dbPath, dbPath + ".wal", dbPath + ".tmp").foreach { p =>
          val f = new java.io.File(p)
          f.delete(); f.deleteOnExit()
        }
      }
    }),

    // ---- §2.11 session windows (gap-based; same code runs streaming) ----
    "q32_session_window" -> ((s, dir) => {
      graft.streaming.Streaming.session(
        t(s, dir, "events"), "ts", "30 minutes",
        Seq(col("user_id")), Seq(count(lit(1)).as("n_events")))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
    }),

    // ---- §2.11 streaming SESSION windows through the micro-batch
    //      engine (append mode): only sessions the FINAL watermark
    //      (max event time − delay) has closed are emitted — the
    //      oracle applies the same cutoff to the batch
    //      gaps-and-islands sessions. Complete mode does not support
    //      session windows, so append + cutoff IS the streaming
    //      contract here ----
    "q76_stream_session" -> ((s, dir) => {
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
    }),

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
    "q110_stream_dedup" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      orderedFeed(s, "q110", ev, append = true)(
        df => graft.streaming.Streaming.dedupStream(df,
          Seq("user_id", "event_type", "hr"), "hr", "1 hour"))
    }),

    // ---- §2.1/§2.11 CHANGE STREAM → materialized table: the generic
    //      analogue of the reference's Mongo change stream — a
    //      file-backed I/U/D feed (full row image + op + version),
    //      randomly chunked into 4 files, applied one file per
    //      micro-batch through ChangeFeed.materialize's version-gated
    //      merge. The random chunking means a key's INSERT, UPDATE and
    //      DELETE can arrive in ANY batch order — the gate passes only
    //      because application is order-independent by construction ----
    "q111_change_stream" -> ((s, dir) => {
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
      val schema = s.read.parquet(s"$tmp/feed").schema
      graft.streaming.ChangeFeed.materialize(s, s"$tmp/feed", schema,
        keys = Seq("o_orderkey"), opCol = "op", versionCol = "version",
        workDir = s"$tmp/work", statePartitions = gateStateParts,
        // numBuckets sizes buckets to the snapshot (100 TB wants
        // thousands); at gate scale 16 default buckets were pure
        // FS-metadata overhead — 4 is the honest sizing (-1.1 s)
        sourceOptions = Map("maxFilesPerTrigger" -> "1"), numBuckets = 4)
    }),

    // ---- §2.1/§2.11 CHANGE STREAM RE-ENTRY — the incremental-CDC
    //      cadence this operator exists for: materialize the inserts,
    //      then land the update/delete feed files and materialize
    //      AGAIN on the SAME workDir. The checkpoint skips the applied
    //      files and each touched bucket recovers from its committed
    //      generation, so the second call applies just the delta; the
    //      result must hash-match the one-shot fold (q111's oracle) ----
    "q113_change_stream_reentry" -> ((s, dir) => {
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
      val schema = s.read.parquet(s"$tmp/feed").schema
      def run() = graft.streaming.ChangeFeed.materialize(s, s"$tmp/feed",
        schema, keys = Seq("o_orderkey"), opCol = "op",
        versionCol = "version", workDir = s"$tmp/work",
        statePartitions = gateStateParts,
        sourceOptions = Map("maxFilesPerTrigger" -> "1"), numBuckets = 4)
      run() // snapshot of the inserts (eager; returned frame unused)
      upd.unionByName(del).repartition(2)
        .write.mode("append").parquet(s"$tmp/feed")
      run() // delta-only second pass on the same workDir
    }),

    // ---- §2.13 DAG orchestration: sources → join → aggregate ----
    "q33_dag" -> ((s, dir) => {
      import graft.dag.{DagBuilder, DagExecutor}
      val dag = new DagBuilder("d1", "demo")
        .addSource("orders", () => t(s, dir, "orders"))
        .addSource("customer", () => t(s, dir, "customer"))
        .addJoin("joined", "customer", "orders", (c, o) =>
          Joins.join(c, o.withColumnRenamed("o_custkey", "c_custkey"),
            Seq("c_custkey"), "inner"))
        .addTransform("agg", Seq("joined"), df =>
          df.groupBy("c_mktsegment")
            .agg(count(lit(1)).as("n_orders"), dsum("o_totalprice").as("revenue")))
        .build()
      val result = new DagExecutor(4).execute(dag)
      require(result.success, "DAG execution failed")
      result.outputs("agg")
    }),

    // ---- §2.13 DAG retry machinery END-TO-END: a task that fails
    //      twice then succeeds must produce the normal result after
    //      exactly maxAttempts runs (happy path gated by q33) ----
    "q73_dag_retry" -> ((s, dir) => {
      import graft.dag._
      val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
      val dag = new DagBuilder("d2", "retry-demo")
        .addSource("customer", () => t(s, dir, "customer"))
        .add(TaskDef("flaky", Seq("customer"), ins => {
          if (attempts.incrementAndGet() < 3)
            throw new RuntimeException("transient failure")
          ins("customer").groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        }, retry = RetryConfig(maxRetries = 2)))
        .build()
      val res = new DagExecutor(2).execute(dag)
      require(res.success, "retry DAG failed")
      require(attempts.get() == 3, s"expected 3 attempts, saw ${attempts.get()}")
      res.outputs("flaky")
    }),

    // ---- §2.11 stream-stream INTERVAL JOIN through the real
    //      micro-batch engine (append mode): clicks matched to views
    //      for the same user within ±2 h. The gate watermark is huge
    //      so no state eviction can drop a match and the result equals
    //      the batch join EXACTLY; production uses tight delays and
    //      accepts the documented late-data trade ----
    "q74_stream_join" -> ((s, dir) => {
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
    }),

    // ---- §2.12 custom Aggregator[IN,BUF,OUT] via udaf (exact decimal
    //      accumulation → partition-order-independent result) ----
    "q34_custom_agg" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(graft.agg.Aggregators.weightedMean(
          col("l_extendedprice"), col("l_quantity")).as("wavg_price"),
          count(lit(1)).as("n"))
    }),

    // ---- §2.4+ hierarchical subtotals: ROLLUP with grouping_id ----
    "q35_rollup" -> ((s, dir) => {
      GroupBy("l_returnflag", "l_linestatus").rollup
        .count("n")
        .agg(dsum("l_quantity").as("sum_qty"))
        .agg(grouping_id().cast("int").as("gid"))
        .apply(t(s, dir, "lineitem"))
    }),

    // ---- §2.4+ pivot: one column per pivoted value ----
    "q36_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum("l_quantity"))
        .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
    }),

    // ---- custom operator: as-of (point-in-time) join ----
    "q37_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "value")
      Joins.asOf(clicks, views, Seq("user_id"), "ts", "ts")
    }),

    // ---- custom operator: binned range (interval-containment) join ----
    "q38_range_join" -> ((s, dir) => {
      val points = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
      val intervals = t(s, dir, "part")
        .select(col("p_partkey"),
          (col("p_retailprice") - 5.0).as("lo"),
          (col("p_retailprice") + 5.0).as("hi"))
      Joins.rangeJoin(points, intervals, "l_extendedprice", "lo", "hi",
          binWidth = 10.0)
        .select("l_orderkey", "l_linenumber", "p_partkey", "l_extendedprice")
    }),

    // ---- LLM ops: IVF approximate top-k (k-means coarse quantizer).
    //      Centroids are exact-decimal means (partition-order
    //      independent), recorded here so [[oracleSql]] — which Verify
    //      evaluates AFTER the queries run — can inline them into the
    //      DuckDB oracle as literals, like q30 does for hyperplanes ----
    "q39_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(e, "vec_id", "embedding",
        nlist = 16, iters = 3, dims = 64)
      q39Centroids = cents
      Similarity.ivfTopKWith(e, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 3, centroids = cents, nprobe = 4)
    }),

    // ---- §2.12 weighted mean, expression form (the at-scale path:
    //      partial aggregation inside whole-stage codegen) ----
    "q40_weighted_mean_expr" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(graft.agg.Aggregators.weightedMeanExpr(
          col("l_extendedprice"), col("l_quantity")).as("wavg_price"),
          count(lit(1)).as("n"))
    }),

    // ---- §2.5 set operations: INTERSECT / EXCEPT ----
    "q41_set_ops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F").select("o_custkey").distinct()
      val oo = o.filter(col("o_orderstatus") === "O").select("o_custkey").distinct()
      Joins.intersect(f, oo).withColumn("op", lit("both"))
        .unionByName(Joins.except(f, oo).withColumn("op", lit("f_only")))
    }),

    // ---- §2.3 right join (all parts kept, lineitem stats optional) ----
    "q42_join_right" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(count(lit(1)).as("n_li"))
        .filter(col("p_partkey") <= 100)
      val p = t(s, dir, "part").select("p_partkey", "p_name")
      Joins.join(li, p, Seq("p_partkey"), "right")
    }),

    // ---- §2.4+ CUBE with grouping_id ----
    "q43_cube" -> ((s, dir) => {
      GroupBy("l_returnflag", "l_linestatus").cube
        .count("n")
        .agg(dsum("l_extendedprice").as("sum_price"))
        .agg(grouping_id().cast("int").as("gid"))
        .apply(t(s, dir, "lineitem"))
    }),

    // ---- §2.8 SCD Type 1 (overwrite: source verbatim, per reference) ----
    "q44_scd1" -> ((s, dir) => {
      SCD.scd1(t(s, dir, "customer")
        .filter(col("c_custkey") % 3 === 0)
        .select("c_custkey", "c_name", "c_mktsegment"))
    }),

    // ---- LLM ops: near-dup pair list → duplicate CLUSTERS (connected
    //      components, min-id canonical representative) ----
    "q45_components" -> ((s, dir) => {
      Dedup.components(Dedup.minHashDedup(t(s, dir, "documents"),
        "doc_id", "text", k = 32, bands = 8, shingleN = 3, threshold = 0.5))
    }),

    // ---- LLM ops: cluster-aware train/val/test split — near-dup
    //      clusters never straddle splits (eval-contamination guard);
    //      assignment hashes the CLUSTER label, content-deterministic ----
    "q82_cluster_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashDedup(docs, "doc_id", "text",
        k = 32, bands = 8, shingleN = 3, threshold = 0.5)
      graft.llm.Sampling.splitByCluster(docs, pairs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "split1")
        .select("doc_id", "lang", "source", "split")
    }),

    // ---- LLM ops: corpus cleaning — normalization, PII redaction,
    //      n-gram repetition signal (C4/Gopher-style filters) ----
    "q46_text_clean" -> ((s, dir) => {
      val text = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TA.normalize(text).as("norm"),
        TA.redactPii(text).as("redacted"),
        TA.repetitionRatio(text, 3).as("rep_ratio"))
    }),

    // ---- LLM ops: HTML stripping — crawled pages synthesized from
    //      the corpus (tags, script/style blocks with droppable
    //      content, comments, entities), then cleaned back to running
    //      text; the C4-style first pass over raw web data ----
    "q105_html_strip" -> ((s, dir) => {
      val page = concat(
        lit("<html><head><style>p { color: red; }</style>"),
        lit("<script type=\"text/js\">var x = 1 &amp;&amp; 2;</script></head>"),
        lit("<!-- crawl id --><body><h1>Doc &amp; title</h1><p class=\"b\">"),
        col("text"),
        lit("</p><br/>&lt;tail&gt;&nbsp;&#39;end&#39;</body></html>"))
      t(s, dir, "documents").select(
        col("doc_id"), TA.stripHtml(page).as("clean"))
    }),

    // ---- LLM ops: per-site accounting — domain extraction from
    //      synthesized URLs + blocklist filter, then docs-per-domain;
    //      the C4-style site filter and the aggregation behind
    //      domain-level corpus stats ----
    "q106_domains" -> ((s, dir) => {
      val url = concat(lit("https://www."), col("source"),
        lit(".example.com/p/"), col("doc_id"))
      // keepDomainAs: the domain derives ONCE — filter and aggregation
      // share the column instead of re-running the regex chain per row
      val docs = t(s, dir, "documents").withColumn("url", url)
      TA.domainBlocklistFilter(docs, "url",
          blocklist = Seq("src1.example.com", "src3.example.com"),
          keepDomainAs = Some("domain"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"))
    }),

    // ---- LLM ops: Unicode NFC normalization — decomposed sequences
    //      (e + U+0301) composed before hashing/dedup; both engines
    //      implement the same Unicode tables, so the gate checks
    //      byte-identical output ----
    "q107_nfc" -> ((s, dir) => {
      // DECOMPOSED suffix: e+COMBINING ACUTE (U+0301), A+COMBINING
      // RING (U+030A), o+COMBINING DIAERESIS (U+0308) -- NFC must
      // compose all three into caf\u00e9 / \u00c5ngstr\u00f6m; the
      // ASCII corpus text passes through untouched
      val decorated = concat(col("text"),
        lit(" cafe\u0301 A\u030Angstro\u0308m"))
      t(s, dir, "documents").select(
        col("doc_id"), TA.nfcNormalize(decorated).as("nfc"))
    }),

    // ---- LLM ops: deterministic per-key corpus quota ----
    "q47_per_key_limit" -> ((s, dir) => {
      graft.llm.Sampling.perKeyLimit(t(s, dir, "documents"),
        Seq("lang", "source"), "doc_id", n = 3)
    }),

    // ---- LLM ops: token-budget shard packing (per-language groups) ----
    "q48_shard_packing" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", TA.tokenCount(col("text")))
      graft.llm.Sampling.packByTokenBudget(docs, Seq("lang"),
        orderCol = "doc_id", tokenCol = "n_tokens", budget = 1000L)
        .select("doc_id", "lang", "n_tokens", "shard")
    }),

    // ---- LLM ops: keep-BEST exact dedup — per (lang, source) cell
    //      the highest-quality document survives (ties → min doc_id),
    //      not merely the first seen (q21's min-id rule) ----
    "q98_dedup_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("__q", TA.qualityScore(col("text")))
      Dedup.exactKeepBest(docs, Seq("lang", "source"), "__q", "doc_id")
        .select("doc_id", "lang", "source")
    }),

    // ---- LLM ops: pretraining SEQUENCE construction — shard by
    //      token budget, concatenate each shard in order with an eos
    //      separator; one row per ~1000-token training sequence ----
    "q96_pack_sequences" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", TA.tokenCount(col("text")))
      graft.llm.Sampling.packSequences(docs, Seq("lang"),
        orderCol = "doc_id", tokenCol = "n_tokens", textCol = "text",
        budget = 1000L)
        .select("lang", "shard", "sequence", "seq_tokens", "n_docs")
    }),

    // ---- LLM ops: end-to-end near-dup removal (pairs → clusters →
    //      keep canonical representative) ----
    "q49_drop_near_dups" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dropNearDuplicates(docs,
        Dedup.minHashDedup(docs, "doc_id", "text",
          k = 32, bands = 8, shingleN = 3, threshold = 0.5),
        "doc_id")
    }),

    // ---- §2.11 sliding windows (batch form of the streaming op) ----
    "q50_sliding_window" -> ((s, dir) => {
      graft.streaming.Streaming.sliding(t(s, dir, "events"), "ts",
        "1 hour", "30 minutes",
        Seq(col("event_type")), Seq(count(lit(1)).as("n")))
        .select(col("window.start").as("w_start"),
          col("window.end").as("w_end"), col("event_type"), col("n"))
    }),

    // ---- §2.3+ skew-salted join: must produce exactly the plain
    //      join's result (the salt is a physical detail) ----
    "q51_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
      val o = t(s, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
        .select("l_orderkey", "o_orderstatus")
      GroupBy("o_orderstatus")
        .count("n_items")
        .agg(dsum("l_extendedprice").as("revenue"))
        .apply(Joins.saltedJoin(li, o, Seq("l_orderkey"), "inner", saltFactor = 8))
    }),

    // ---- §3.1 linear pipeline facade (chain-order stages) ----
    "q52_pipeline" -> ((s, dir) => {
      graft.core.Pipeline.from(t(s, dir, "customer"))
        .transform(T.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment"))
        .filter(col("c_acctbal") > 0)
        .transform(T.addField("tier",
          when(col("c_acctbal") > 5000, "gold").otherwise("basic")))
        .transform(T.toLower("c_mktsegment"))
        .build()
    }),

    // ---- LLM ops: benchmark decontamination (n-gram collision check;
    //      benchmark grams broadcast, corpus never shuffles) ----
    "q53_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationHits(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 3)
    }),

    // ---- LLM ops: corpus-frequency BOILERPLATE removal — lines
    //      present in ≥20% of documents (a footer injected into every
    //      third doc) deleted from ALL of them; content lines kept ----
    "q95_boilerplate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit("\nSHARED FOOTER")))
          .otherwise(col("text")))
      Dedup.removeBoilerplateLines(docs, "doc_id", "text", minDocFrac = 0.2)
        .select("doc_id", "text", "lang")
    }),

    // ---- LLM ops: corpus-level exact line dedup (C4 recipe) over
    //      deterministic 8-token lines ----
    "q54_line_dedup" -> ((s, dir) => {
      val w = split(col("text"), "\\s+")
      // per-LINE slice is fine here (unlike the per-GRAM slice the
      // shingle path banned): one allocation per 8 tokens, not per token
      val chunked = t(s, dir, "documents").select(col("doc_id"),
        when(size(w) >= 1,
          array_join(transform(
            sequence(lit(0), floor((size(w) - 1).cast("double") / 8.0).cast("int")),
            i => concat_ws(" ", slice(w, i * 8 + 1, lit(8)))), "\n"))
          .otherwise(lit("")).as("text"))
      Dedup.dedupLines(chunked, "doc_id", "text", "\n")
    }),

    // ---- LLM ops: top-k characteristic terms per doc (TF-IDF,
    //      rational idf for cross-engine determinism) ----
    "q55_tfidf" -> ((s, dir) => {
      TA.tfIdfTopK(t(s, dir, "documents"), "doc_id", "text", k = 5)
    }),

    // ---- LLM ops: rare-token quality signal — fraction of token
    //      occurrences whose corpus document-frequency is < 3; the
    //      exact-arithmetic cousin of perplexity filtering ----
    "q109_rare_tokens" -> ((s, dir) => {
      TA.rareTokenRatio(t(s, dir, "documents"), "doc_id", "text", minDf = 3L)
    }),

    // ---- §2.11 REAL streaming execution: file source → watermark →
    //      tumbling window agg → checkpointed PARQUET sink (the
    //      production-shaped file-backed bridge — nothing through the
    //      driver), Trigger.AvailableNow. The file sink is append-only,
    //      so only windows the FINAL watermark (max ts − delay) closed
    //      are emitted — the oracle applies the same cutoff ----
    "q56_stream_hourly" -> ((s, dir) => {
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
    }),

    // ---- LLM ops: incremental ingest dedup (new crawl vs seen corpus,
    //      content-hash anti-join) ----
    "q57_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.newAgainstSeen(docs, docs.filter(col("doc_id") % 7 === 0), "text")
    }),

    // ---- §2.3+/LLM ops: Bloom-pruned incremental dedup — the seen
    //      side is too big to broadcast at scale, but its MEMBERSHIP
    //      fits a few MB of bloom bits; filter misses bypass the
    //      shuffle entirely, candidates settle in the exact anti join.
    //      Output is EXACTLY the plain anti join (fpp is perf-only) ----
    "q81_bloom_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.join.Bloom.antiJoin(docs,
        docs.filter(col("doc_id") % 5 === 0).select("text"),
        Seq("text"), expectedItems = 100000, fpp = 0.01)
    }),

    // ---- LLM ops: content-deterministic STRATIFIED sample — per-
    //      language keep fractions, reproducible on any engine (head
    //      language downsampled, tail kept whole, es dropped) ----
    "q80_stratified_hash" -> ((s, dir) => {
      graft.llm.Sampling.stratifiedByHash(t(s, dir, "documents"), "lang",
        Map("en" -> 0.3, "de" -> 1.0, "fr" -> 0.5, "zh" -> 0.0),
        keyCol = "doc_id", salt = "mix1")
    }),

    // ---- LLM ops: content-deterministic Bernoulli sample (stable
    //      row set independent of partitioning — unlike df.sample) ----
    "q58_hash_sample" -> ((s, dir) => {
      graft.llm.Sampling.hashSample(t(s, dir, "documents"),
        "doc_id", numer = 3, denom = 10, salt = "s1")
    }),

    // ---- LLM ops: content-deterministic EXACT-k sample (globally
    //      smallest k hashes — "carve exactly 150 eval docs"); plans
    //      as TakeOrderedAndProject, no global sort ----
    "q108_exact_k" -> ((s, dir) => {
      graft.llm.Sampling.exactKByHash(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id", k = 150, salt = "ev")
    }),

    // ---- LLM ops: WEIGHT-proportional deterministic sample — keep
    //      probability min(1, rate·n_chars): longer docs favored,
    //      row set stable across runs/engines/partitionings ----
    "q84_weighted_sample" -> ((s, dir) => {
      graft.llm.Sampling.weightedHashSample(t(s, dir, "documents"),
        "doc_id", "n_chars", baseRate = 0.002, salt = "w1")
    }),

    // ---- LLM ops: temperature rebalancing (multilingual sampling,
    //      alpha 0.5) — expected 250 rows allocated ∝ sqrt(stratum
    //      size), waterfilled, applied via the deterministic hash
    //      rule; integer thresholds stashed for the oracle ----
    "q85_temperature_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = docs.filter(col("lang").isNotNull)
        .groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val fr = graft.llm.Sampling.temperatureFractions(counts,
        alpha = 0.5, targetRows = 250)
      q85Thresholds = fr.map { case (k, f) => k -> math.round(f * 10000) }
      graft.llm.Sampling.stratifiedByHash(docs, "lang", fr,
        keyCol = "doc_id", salt = "temp1", denom = 10000)
    }),

    // ---- §2.10/§2.3+ bucketed co-located join END-TO-END: write both
    //      sides bucketed+sorted on the key through the catalog, join
    //      the bucketed tables, aggregate. The salt-free shuffle-free
    //      plan property is asserted in JoinsSpec; here the oracle
    //      verifies the whole write→read→join path's RESULTS ----
    // ---- §2.4+ shuffle-free aggregation on a bucketed table: the
    //      bucket layout satisfies the groupBy's distribution, so the
    //      aggregate runs with NO exchange (plan-guarded) — the
    //      repeatedly-aggregated 100 TB fact pattern ----
    "q93_bucketed_agg" -> ((s, dir) => {
      import graft.sinks.Sinks
      val liT = s"graft_bkt_agg_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Sinks.parquetBucketed(t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice"),
        liT, 8, Seq("l_orderkey"))
      s.table(liT).groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("qty"))
    }),

    "q59_bucketed_join" -> ((s, dir) => {
      import graft.sinks.Sinks
      val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val liT = s"graft_bkt_li_$sfx"
      val oT = s"graft_bkt_o_$sfx"
      Sinks.parquetBucketed(t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice"), liT, 8, Seq("l_orderkey"))
      Sinks.parquetBucketed(t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
        oT, 8, Seq("l_orderkey"))
      GroupBy("o_orderstatus")
        .count("n_items")
        .agg(dsum("l_extendedprice").as("revenue"))
        .apply(s.table(liT).join(s.table(oT), "l_orderkey"))
    }),

    // ---- §2.11 custom KEYED STATE through the real micro-batch
    //      engine: mapGroupsWithState running counts in Update mode;
    //      counts are monotone, so max-per-key over every emitted
    //      update equals the batch groupBy count exactly. Runs under
    //      the ROCKSDB state store — the disk-backed provider a 100 TB
    //      stream needs (keyed state bounded by disk, not executor
    //      heap) — so the gate exercises the production backend, not
    //      just the in-memory default ----
    "q90_stream_state" -> ((s, dir) => {
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
    }),

    // ---- §2.11 foreachBatch sink e2e: stream → per-micro-batch
    //      parquet append (checkpointed) → read back and aggregate;
    //      the custom-write hook every exactly-once-ish production
    //      sink (JDBC upsert per batch, etc.) hangs off ----
    "q102_stream_foreachbatch" -> ((s, dir) => {
      val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val out = s"/tmp/graft_feb_$sfx"
      // DETERMINISTIC checkpoint path, cleaned at START: a fresh-named
      // ckpt would leak on stream failure, and a STALE one with a
      // deleted output would silently skip already-committed batches
      val ckpt = s"/tmp/graft_feb_ckpt_$sfx"
      val hconf = s.sparkContext.hadoopConfiguration
      def rmr(path: String): Unit = {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(hconf)
        if (fs.exists(p)) fs.delete(p, true)
      }
      rmr(out) // fresh output: the gate and bench re-run this query
      rmr(ckpt)
      val schema = Tables.rawSchema(s, dir, "events")
      val stream = graft.streaming.Streaming.readStream(
        s, "parquet", s"$dir/events*.parquet", schema)
      val q = graft.streaming.Streaming.foreachBatchSink(
        stream.select(col("event_id"), col("event_type")), ckpt,
        (df, _) => graft.sinks.Sinks.parquet(df, out, mode = "append"))
      q.awaitTermination()
      rmr(ckpt)
      s.read.parquet(out).groupBy("event_type").agg(count(lit(1)).as("n"))
    }),

    // ---- §2.11 STREAM-STATIC join through the micro-batch engine:
    //      the streaming side enriches against a static dim (broadcast
    //      per micro-batch), then aggregates — the enrichment shape of
    //      every production stream ----
    "q101_stream_static_join" -> ((s, dir) => {
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
    }),

    // ---- §2.11 REAL streaming sliding windows (micro-batch engine;
    //      overlapping-window state vs the epoch-aligned batch oracle) ----
    // append + final-watermark cutoff through the file-backed bridge,
    // same contract as q56
    "q60_stream_sliding" -> ((s, dir) => {
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
    }),

    // ---- LLM ops: overlapping token-window chunking (context-length
    //      prep; 50-token chunks, 10-token overlap) ----
    "q61_chunking" -> ((s, dir) => {
      TA.chunkByTokens(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 50, overlap = 10)
    }),

    // ---- composition: an end-to-end training-corpus pipeline through
    //      the library — normalize → quality+language filter → exact
    //      dedup → deterministic sample → per-source quota ----
    "q62_corpus_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", TA.normalize(col("text")))
      val kept = docs
        .filter(TA.qualityScore(col("text")) > 0.5)
        .filter(TA.langId(col("text")) === "en")
      val deduped = Dedup.exact(kept, Seq("text"), "doc_id")
      val sampled = graft.llm.Sampling.hashSample(deduped, "doc_id", 8, 10, "mix")
      graft.llm.Sampling.perKeyLimit(sampled, Seq("source"), "doc_id", n = 50)
        .select("doc_id", "text", "lang", "source")
    }),

    // ---- LLM ops: EXACT global top-fraction by quality score via the
    //      two-pass histogram (no global sort; only the threshold
    //      bucket is exactly ranked) — "keep the best 30%" ----
    "q78_quality_topfrac" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("__q", TA.qualityScore(col("text")))
      graft.llm.Sampling.topFractionByScore(docs, "__q", "doc_id",
        fraction = 0.3)
        .select("doc_id", "lang", "source")
    }),

    // ---- LLM ops: PER-KEY top-fraction — each language keeps its
    //      best 40% by quality (one window, rank + count per group) ----
    "q79_quality_topfrac_perkey" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("__q", TA.qualityScore(col("text")))
      graft.llm.Sampling.topFractionByScorePerKey(
        docs, Seq("lang"), "__q", "doc_id", fraction = 0.4)
        .select("doc_id", "lang", "source")
    }),

    // ---- §2.9+ robust outlier gate: |x − median| ≤ k·MAD per group,
    //      discrete (data-valued) median/MAD — engine-reproducible,
    //      immune to the inflated-stddev failure of z-score gates ----
    "q86_mad_outliers" -> ((s, dir) => {
      Quality.madOutlierFilter(
        t(s, dir, "events").select("event_id", "event_type", "value"),
        Seq("event_type"), "value", k = 3.0)
    }),

    // ---- §2.5+ time-RANGE rolling aggregates per key: each event's
    //      count/exact-sum/mean over its user's previous hour — the
    //      feature-engineering frame a ROWS window gets wrong ----
    "q87_rolling_time" -> ((s, dir) => {
      graft.agg.GroupBy.rollingByTime(
        t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        Seq("user_id"), "ts", "value", lookback = 3600L * 1000000)
        .select("event_id", "user_id", "roll_n", "roll_sum", "roll_mean")
    }),

    // ---- §2.5+ batch sessionization: per-user session ids via
    //      gaps-and-islands (30-min gap) — labels every event instead
    //      of collapsing to session aggregates like q32 ----
    "q89_sessionize" -> ((s, dir) => {
      graft.agg.GroupBy.sessionize(
        t(s, dir, "events").select("event_id", "user_id", "ts"),
        Seq("user_id"), "ts", gap = 30L * 60 * 1000000)
        .select("event_id", "user_id", "session_id")
    }),

    // ---- §2.6+ per-group feature normalization: z-score from EXACT
    //      decimal sums (engine-reproducible, unlike a double stddev
    //      aggregate) and min-max, null group keys included ----
    "q88_normalize" -> ((s, dir) => {
      val base = t(s, dir, "events").select("event_id", "event_type", "value")
      val z = graft.agg.GroupBy.normalizePerKey(
        base, Seq("event_type"), "value", "zscore", out = "z")
      graft.agg.GroupBy.normalizePerKey(
        z, Seq("event_type"), "value", "minmax", out = "mm")
    }),

    // ---- §2.9+ data profiling: per-column stats in one pass ----
    "q63_profile" -> ((s, dir) => {
      Quality.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority"))
    }),

    // ---- §2.1+ NESTED schema pruning: struct columns in parquet,
    //      one subfield selected — the scan must read ONLY that leaf
    //      (ReadSchema plan-guarded), the nested-payload layout every
    //      multimodal/metadata corpus carries at 100 TB ----
    "q94_nested_pruning" -> ((s, dir) => {
      val tmp = s"/tmp/graft_nested_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      t(s, dir, "events").select(col("event_id"),
          struct(col("event_type"), col("user_id"),
            struct(col("value"), col("props")).as("deep")).as("meta"))
        .write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp)
        .select(col("event_id"), col("meta.deep.value").as("value"))
    }),

    // ---- capstone: star-schema revenue rollup — fact⋈fact⋈dim⋈dim
    //      with broadcast dims, exact decimal revenue, partial aggs
    //      end-to-end (the TPC-H-shaped analytics the engine is for) ----
    "q100_star_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val o = t(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "P")
        .select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey", "c_mktsegment")
      val n = t(s, dir, "nation").select("n_nationkey", "n_name")
      val rev = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "c_mktsegment")
        .agg(count(lit(1)).as("n_items"),
          sum(rev).cast("double").as("revenue"))
    }),

    // ---- §2.12 CollectErrors e2e: a dirty column (every 7th row
    //      unparsable) through the checked-cast pipeline — good rows
    //      come out converted, failing rows route to the error frame
    //      (the reference's CollectErrors contract under the gate) ----
    "q99_collect_errors" -> ((s, dir) => {
      import org.apache.spark.sql.types.DoubleType
      val dirty = t(s, dir, "orders").select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit("N/A"))
          .otherwise(col("o_totalprice").cast("string")).as("price"))
      // persist (NOT an eager localCheckpoint): one materialization
      // serves all three counts of the split check, and because
      // lineage stays intact the blocks can be released right here —
      // a checkpoint would pin them until GC, accumulating block-
      // manager storage across repeated gate/bench invocations in one
      // session. The returned frame recomputes from the parquet scan.
      val base = dirty.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (good, errs) =
        T.collectErrors(Seq(T.CheckedCast("price", DoubleType)))(base)
      // the split must be a partition: every input row is in exactly
      // one frame (checked here so the gate exercises BOTH outputs)
      val partitioned = good.count() + errs.count() == base.count()
      base.unpersist(blocking = false)
      require(partitioned, "collectErrors lost or duplicated rows")
      good
    }),

    // ---- §2.6 nested JSON: serialize → parse with explicit schema →
    //      flatten; roundtrip must reproduce the source columns ----
    "q64_json_flatten" -> ((s, dir) => {
      val withJson = t(s, dir, "events").select(col("event_id"),
        to_json(struct(col("event_type"), col("user_id"),
          struct(col("value"), col("props")).as("nested"))).as("payload"))
      withJson
        .transform(T.parseJson("payload",
          "event_type STRING, user_id BIGINT, nested STRUCT<value: DOUBLE, props: STRING>"))
        .transform(T.flatten("payload"))
        .transform(T.flatten("nested"))
        .select("event_id", "event_type", "user_id", "value", "props")
    }),

    // ---- LLM ops: UNBLOCKED semantic near-dup — IVF clusters as
    //      automatic blocks (q29's caller-supplied blocking, solved);
    //      exact-decimal centroids recorded for the oracle like q39 ----
    "q68_semantic_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(e, "vec_id", "embedding",
        nlist = 8, iters = 2, dims = 64)
      q68Centroids = cents
      Dedup.semanticNearDup(e, "vec_id", "embedding", cents, threshold = 0.35)
    }),

    // ---- LLM ops: SimHash near-dup pairs (bit-sampling LSH bands;
    //      pigeonhole-complete, so output == naive all-pairs) ----
    "q69_simhash_pairs" -> ((s, dir) => {
      Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text",
        bits = 16, maxHamming = 1, bands = 2)
    }),

    // ---- §2.4+ exact discrete percentiles per group (p50/p90/p99) ----
    "q66_percentiles" -> ((s, dir) => {
      GroupBy.percentilesDisc(
        t(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
        ps = Seq(0.5, 0.9, 0.99), out = "price_at_p")
    }),

    // ---- §2.4+ deterministic LISTAGG (sorted collect + join) ----
    "q67_string_agg" -> ((s, dir) => {
      GroupBy.stringAgg(t(s, dir, "nation"), Seq("n_regionkey"),
        "n_name", sep = "|", out = "nations")
    }),

    // ---- §2.5 window-function breadth: rank/dense_rank/lag/lead/ntile ----
    "q65_window_funcs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"))
    }),

    // ---- LLM ops: Gopher repetition-CONCENTRATION signals — the
    //      mode-based char fractions complementing q46's breadth
    //      ratio: one looping phrase (top n-gram) vs any repeated
    //      longer n-gram. Per-row sorted-run scans, no shuffle ----
    "q114_repetition" -> ((s, dir) => {
      val text = col("text")
      t(s, dir, "documents").select(col("doc_id"),
        TA.topNgramCharFraction(text, 2).as("top2_frac"),
        TA.topNgramCharFraction(text, 3).as("top3_frac"),
        TA.dupNgramCharFraction(text, 5).as("dup5_frac"))
    }),

    // ---- §2.1 HTTP source THROUGH DSv2 (`spark.read.format(
    //      "graft-http")`) against a LIVE loopback server serving the
    //      nation table as offset-paginated JSONL — pages planned as
    //      InputPartitions, executor-side Jackson parse; materialized
    //      while the server is up (the server is the fixture, not
    //      part of the lazy plan's lifetime) ----
    "q115_http_source" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val rows = nation.orderBy("n_nationkey").toJSON.collect()
      val tmp = gateTempDir(s, "graft_q115")
      val (server, base) = jsonlPageServer(rows, pageSize = 10)
      try {
        s.read.format("graft-http").schema(nation.schema)
          .option("url", base)
          .option("pages", ((rows.length + 9) / 10).toString)
          .option("pageSize", "10")
          .load()
          .write.parquet(s"$tmp/out")
      } finally server.stop(0)
      s.read.parquet(s"$tmp/out")
    }),

    // ---- LLM ops: image perceptual hash (dHash) over REAL decoded
    //      PNG pixels — the image-dedup fingerprint. The fixture
    //      synthesizes 9x8 RGB PNGs from a formula of doc_id (encode
    //      is lossless, grid == hash resolution, so pooling is
    //      identity), the operator decodes with javax.imageio and
    //      hashes the pixels; the oracle replays the formula without
    //      ever decoding — the gate passes iff the encode→decode→
    //      pool→compare chain is pixel-exact. Pairing over these
    //      hashes is Dedup.hammingPairs (unit-tested; q25/q69 gate
    //      the shared banding machinery) ----
    "q116_image_dhash" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val png = Multimodal.rgbPng(9, 8, (x, y) => {
              val v = ((id * 31 + x * 7 + y * 13) % 256).toInt
              (v << 16) | (v << 8) | v
            })
            Multimodal.MediaRecord(id, png,
              Multimodal.MediaMeta("image/png", Some(9), Some(8), None))
          }
        }
        .transform(Multimodal.imageDHash(_))
        .select(col("media_id").as("doc_id"), col("dhash_bits").as("dhash"))
    }),

    // ---- LLM ops: audio envelope fingerprint over REAL decoded
    //      PCM — the audio-dedup analogue of q116: WAV clips
    //      synthesized from a formula of doc_id (16-bit PCM
    //      round-trips bit-exactly), fingerprinted in pure integer
    //      math (mean-vs-mean by cross-multiplication, no floats),
    //      so the oracle replays the formula without decoding ----
    "q117_audio_fingerprint" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val samples = Array.tabulate(1024)(i =>
              ((id * 7 + i * 13) % 4096).toShort)
            Multimodal.MediaRecord(id, Multimodal.pcmWav(samples),
              Multimodal.MediaMeta("audio/wav", None, None, Some(128L)))
          }
        }
        .transform(Multimodal.audioFingerprint(_, buckets = 64))
        .select(col("media_id").as("doc_id"), col("fp_bits").as("fp"),
          col("n_frames"))
    }),

    // ---- LLM ops: BM25 lexical top-k retrieval — the sparse half of
    //      a hybrid retrieval stack (hard-negative mining, source
    //      attribution). Queries = first 8 tokens of every 100th doc;
    //      rational idf + per-(query,doc) ORDERED float fold keep the
    //      scores bit-reproducible in DuckDB (see bm25TopK doc) ----
    "q118_bm25_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // FIXED query count across scale factors (doc_id < 1000 caps it
      // at 10): the gate verifies the operator, and the bench must
      // time per-query retrieval cost, not a query fan-out that grows
      // with the corpus (500 queries at sf0.1 measured 11 s of pure
      // candidate-set multiplication)
      val queries = docs
        .filter(col("doc_id") % 100 === 0 && col("doc_id") < 1000)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(TA.tokens(col("text")), 1, 8)).as("qtext"))
      TA.bm25TopK(docs, "doc_id", "text", queries, "query_id", "qtext", k = 10)
    }),

    // ---- LLM ops: n-gram coherence — mean corpus-probability of each
    //      doc's bigram occurrences, the word-ORDER quality signal
    //      (exact-integer stand-in for bigram-LM perplexity; q109 is
    //      the unigram cousin). Pure integer sums + one division ----
    "q119_bigram_coherence" -> ((s, dir) => {
      TA.ngramCoherence(t(s, dir, "documents"), "doc_id", "text", n = 2)
    }),

    // ---- LLM ops: hybrid retrieval — BM25 lexical top-10 fused with
    //      brute-force cosine ANN top-10 by reciprocal-rank fusion
    //      (1/(60+rank) per source, ordered-fold sum). The ranked
    //      lists are query-bounded; fusion shuffles rank rows only ----
    "q120_hybrid_rrf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val queries = docs
        .filter(col("doc_id") % 100 === 0 && col("doc_id") < 1000)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(TA.tokens(col("text")), 1, 8)).as("qtext"))
      val lex = TA.bm25TopK(docs, "doc_id", "text",
          queries, "query_id", "qtext", k = 10)
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      val sem = Similarity.bruteForceTopK(e,
          e.filter(col("vec_id") % 100 === 0 && col("vec_id") < 1000),
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      Similarity.rrfFuse(Seq(lex, sem), "query_id", "id", "rank",
          kRrf = 60, k = 10)
        .select(col("query_id"), col("id").as("doc_id"),
          col("rrf"), col("rank"))
    }),

    // ---- LLM ops: copied-SPAN detection via winnowing (MOSS) — the
    //      scalable stand-in for suffix-array exact-substring dedup:
    //      any shared run of ≥ w+k−1 tokens leaves a common selected
    //      fingerprint; corpus-frequency cap drops boilerplate ----
    "q121_copied_spans" -> ((s, dir) => {
      Dedup.copiedSpanPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxDocFreq = 50)
    }),

    // ---- LLM ops: link-graph centrality prior (fixed-point PageRank,
    //      3 sweeps, damping 85/100) over the customer→supplier order
    //      graph — the web-graph quality-prior shape; INTEGER
    //      arithmetic throughout, so sweeps replay exactly in SQL ----
    "q122_pagerank" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      graft.graph.Centrality.pageRank(edges, "src", "dst", iterations = 3)
    }),

    // ---- LLM ops: training-mix assembly — "12k tokens at 50/20/15/15
    //      en/de/fr/es" (zh unweighted → excluded): per-source keep
    //      fractions from the token budget, applied via the content-
    //      deterministic hash rule; integer thresholds inlined into
    //      the oracle at run time (q85 pattern) ----
    "q123_token_mixture" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", TA.tokenCount(col("text")))
      val weights = Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.15, "es" -> 0.15)
      val totals = docs.filter(col("lang").isNotNull)
        .groupBy("lang").agg(sum(col("n_tokens")).as("t")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val fr = graft.llm.Sampling.budgetFractions(totals, weights,
        budgetTokens = 12000L)
      q123Thresholds = fr.map { case (k, f) => k -> math.round(f * 10000) }
      graft.llm.Sampling.mixtureByTokenBudget(docs, "lang", "doc_id",
        "n_tokens", weights, budgetTokens = 12000L, salt = "mix1")
    }),

    // ---- LLM ops: URL canonicalization — the exact-dedup key for
    //      web crawls (case, default ports, www., tracking params,
    //      fragments all collapse); synthetic variants from doc_id
    //      exercise every rule; the oracle replays the same RE2-safe
    //      regex chain ----
    "q125_url_canonical" -> ((s, dir) => {
      val url = concat(
        lit("HTTP://WWW.Example"), (col("doc_id") % 50).cast("string"),
        lit(".COM:80/Path/"), (col("doc_id") % 7).cast("string"),
        lit("?utm_source=feed&id="), (col("doc_id") % 20).cast("string"),
        lit("&utm_campaign=x#sec"), col("doc_id").cast("string"))
      t(s, dir, "documents").select(col("doc_id"), url.as("url"))
        .withColumn("canon", TA.canonicalizeUrl(col("url")))
    }),

    // ---- LLM ops: the Gopher document-quality rule set as one
    //      projection — per-rule flags + conjunction, every ratio an
    //      INTEGER cross-multiplication (no float thresholds). Rows
    //      flagged, not filtered (curation wants per-rule kill
    //      diagnostics first) ----
    "q124_gopher_rules" -> ((s, dir) => {
      // the synthetic corpus has a database-word vocabulary, so the
      // stopword rule uses ITS most common function words (the
      // operator default stays the canonical English list) — the
      // rule's job, "does this doc share the corpus's connective
      // tissue", is the same
      TA.gopherRules(t(s, dir, "documents"), "doc_id", "text",
        stopwords = Seq("join", "hash", "row", "batch",
          "scan", "column", "filter", "data"))
    }),

    // ---- time series: regularize the event stream to an hourly
    //      grid per user and forward-fill the gaps ----
    "q126_resample_fill" -> ((s, dir) =>
      graft.ops.TimeSeries.resampleFill(t(s, dir, "events"),
        Seq("user_id"), "ts", "value", "hour")),

    // ---- time series: ordered view→click→purchase funnel, one
    //      window pass + one reduce on the actor key ----
    "q127_funnel" -> ((s, dir) =>
      graft.ops.TimeSeries.funnel(t(s, dir, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))),

    // ---- feature eng: decile-label order prices by their own exact
    //      discrete percentiles (edges broadcast, label is a fold) ----
    "q128_quantile_bins" -> ((s, dir) =>
      graft.agg.GroupBy.binByQuantiles(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        "o_totalprice", (1 to 9).map(_ / 10.0))),

    // ---- retrieval: materialized inverted index with full-corpus
    //      stats and a capped posting list per term ----
    "q129_inverted_index" -> ((s, dir) =>
      TA.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
        maxPostings = 20)),

    // ---- data quality: exact two-sample KS drift between the
    //      click and view value distributions ----
    "q130_ks_drift" -> ((s, dir) =>
      graft.quality.Quality.ksDrift(t(s, dir, "events"),
        "value", "event_type", "click", "view")),

    // ---- LLM ops: exact duplicated-span detection (Lee et al.
    //      2021) — maximal ≥k-token ranges repeated in the corpus ----
    "q131_duplicate_spans" -> ((s, dir) =>
      graft.llm.Dedup.duplicateSpans(t(s, dir, "documents"),
        "doc_id", "text", k = 5)),

    // ---- sequence-model training data: per-user ordered event-type
    //      sequences, capped inside the aggregate ----
    "q132_event_sequences" -> ((s, dir) =>
      graft.ops.TimeSeries.eventSequences(t(s, dir, "events"),
        Seq("user_id"), "ts", "event_type", "event_id", maxLen = 30)),

    // ---- event feeds: leading-edge throttle — first event of each
    //      burst per (user, type), 1-day gap ----
    "q133_throttle" -> ((s, dir) =>
      graft.ops.TimeSeries.throttle(t(s, dir, "events"),
        Seq("user_id", "event_type"), "ts", "event_id",
        gapMicros = 86400L * 1000000L)),

    // ---- log compaction: keep only event-type change points per
    //      user (consecutive duplicates dropped) ----
    "q134_compress_consecutive" -> ((s, dir) =>
      graft.ops.TimeSeries.compressConsecutive(
        t(s, dir, "events").filter(col("ts").isNotNull),
        Seq("user_id"), "ts", "event_id", Seq("event_type"))),

    // ---- text quality: deflate compression ratio (zlib-encoder
    //      dependent → rows-level gate, unit-tested exactly) ----
    "q135_compression_ratio" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
        TA.compressionRatio(col("text")).as("deflate_ratio"))),

    // ---- retrieval eval: recall@10 of LSH ANN against the exact
    //      brute-force ranking, same queries ----
    "q136_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", k = 10)
      val approx = Similarity.lshTopK(e, qs, "vec_id", "embedding",
        k = 10, bits = 6)
      Similarity.recallAtK(approx, exact, "query_id", "neighbor_id",
        "rank", k = 10)
    }),

    // ---- curation: cross-source 5-gram overlap matrix (the
    //      dataset-card contamination report) ----
    "q137_source_overlap" -> ((s, dir) => {
      // spread (r20, guide §2.5): the 5-shingle explode + hashing ran
      // inside the single-task scan stage (baseline telemetry: 4.0 s
      // wall at 1.5 busy cores); project-then-spread parallelizes it —
      // a no-op on inputs the scan can split. Result-invariant: the
      // overlap matrix is a distinct + exact pair count.
      val sh = graft.core.Par.spread(
          t(s, dir, "documents").select(col("source"), col("text")))
        .select(col("source"),
          explode(graft.llm.Dedup.hashedShingles(col("text"), 5)).as("h"))
      graft.llm.Dedup.overlapMatrix(sh, "source", "h")
    }),

    // ---- streaming: the funnel maintained INCREMENTALLY with custom
    //      keyed state through REAL micro-batches (hour-chunked
    //      chronological feed, the q110 bridge), update log folded
    //      back to the batch-funnel shape and hash-matched against
    //      the batch oracle ----
    "q138_stream_funnel" -> ((s, dir) => {
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
    }),

    // ---- retrieval training data: hard-negative mining — per query
    //      the top-k neighbors INSIDE the cosine band [0.1, 0.5) ----
    "q139_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, maxCos = 0.5, minCos = 0.1)
    }),

    // ---- curation: prototypicality pruning (Sorscher et al. 2022) —
    //      drop the most-prototypical half of each k-means cluster;
    //      trained centroids stashed for the oracle like q39/q68 ----
    "q140_prototype_prune" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(e, "vec_id", "embedding",
        nlist = 8, iters = 2)
      q140Centroids = cents
      Similarity.prototypePrune(e, "vec_id", "embedding", cents,
        dropNum = 1, dropDen = 2)
    }),

    // ---- tokenizer design: vocabulary coverage curve — top-100
    //      tokens with cumulative corpus share ----
    "q141_vocab_coverage" -> ((s, dir) =>
      TA.vocabCoverage(t(s, dir, "documents"), "text", topN = 100)),

    // ---- product analytics: weekly cohort retention triangle ----
    "q142_retention" -> ((s, dir) =>
      graft.ops.TimeSeries.retentionCohorts(t(s, dir, "events"),
        "user_id", "ts", "week")),

    // ---- streaming: exact per-key running counts (the heavy-hitter
    //      primitive) with custom keyed state through REAL
    //      micro-batches; counts are monotone, so the at-least-once
    //      update log folds with max — order- and duplicate-free ----
    "q143_stream_counts" -> ((s, dir) => {
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
    }),

    // ---- curation: per-source χ² token-distribution drift against
    //      the corpus mixture (top-50 tokens + OTHER bucket) ----
    "q144_chisq_drift" -> ((s, dir) =>
      TA.tokenDistributionDrift(t(s, dir, "documents"), "source", "text",
        topV = 50)),

    // ---- data cleaning: per-type winsorization at the exact
    //      discrete 5th/95th percentiles ----
    "q145_winsorize" -> ((s, dir) =>
      graft.agg.GroupBy.winsorize(t(s, dir, "events"),
        Seq("event_type"), "value", pLo = 0.05, pHi = 0.95)
        .select(col("event_id"), col("event_type"), col("value"),
          col("value_w"))),

    // ---- distinct-count cube: daily HLL sketches rolled up to
    //      event_type by sketch UNION (raw data scanned once); the
    //      gate pins the accuracy contract against exact distincts —
    //      the estimate itself is engine arithmetic (q135 pattern) ----
    "q146_hll_distinct" -> ((s, dir) => {
      import graft.agg.Sketches
      val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
      val daily = Sketches.sketches(
        ev.withColumn("day", to_date(col("ts"))),
        Seq("event_type", "day"), "user_id", lgK = 12)
      val rolled = Sketches.rollup(daily, Seq("event_type"))
      ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
        .join(rolled.select(col("event_type"), col("estimate")), "event_type")
        .select(col("event_type"), col("n_exact"),
          (abs(col("estimate") - col("n_exact").cast("double")) <=
            lit(0.05) * col("n_exact").cast("double")).as("estimate_ok"))
    }),

    // ---- model monitoring: PSI drift of each event type's value
    //      distribution vs the pooled deciles ----
    "q147_psi_drift" -> ((s, dir) =>
      Quality.psiDrift(t(s, dir, "events"), "value", "event_type",
        (1 to 9).map(_ / 10.0))
        // ln-bearing statistic: quantize to 1e-9 for the cross-engine
        // hash (round is bit-identical Spark vs DuckDB; see
        // MathExpressions rationale)
        .withColumn("psi", round(col("psi"), 9))),

    // ---- phrase mining: top adjacent-pair collocations by PMI ----
    "q148_pmi_collocations" -> ((s, dir) =>
      TA.pmiCollocations(t(s, dir, "documents"), "text",
        minCount = 5L, topK = 50)),

    // ---- text quality: per-doc Shannon token entropy + TTR ----
    "q149_token_entropy" -> ((s, dir) =>
      TA.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("entropy", round(col("entropy"), 9))),

    // ---- A/B stats: Mann-Whitney U with midranks + tie-corrected
    //      normal approximation, click vs view values ----
    "q150_mann_whitney" -> ((s, dir) =>
      Quality.mannWhitneyU(t(s, dir, "events"),
        "value", "event_type", "click", "view")),

    // ---- journey analytics: first-order Markov transition matrix
    //      over each user's event-type sequence ----
    "q151_transitions" -> ((s, dir) =>
      graft.ops.TimeSeries.transitionMatrix(t(s, dir, "events"),
        Seq("user_id"), "ts", "event_type", "event_id")),

    // ---- graph: per-part triangle counts on the co-order
    //      market-basket graph (degree-ordered node-iterator) ----
    // r20: routed through the pre-normalized triangle path —
    // coOccurrenceEdges output is distinct (u < v) by construction, so
    // the public path's re-normalize (filter + least/greatest +
    // distinct over |E|) was a provable no-op costing one exchange +
    // hash-aggregate (r19 verdict #1); results are hash-identical
    "q152_triangles" -> ((s, dir) =>
      graft.graph.Graph.triangleCountsPreNormalized(
        graft.graph.Graph.coOccurrenceEdges(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", maxPerGroup = 8))),

    // ---- heavy hitters: exact ≥0.2% tokens via per-partition
    //      Misra-Gries candidates + candidate-only recount ----
    "q153_heavy_hitters" -> ((s, dir) =>
      graft.agg.Sketches.heavyHitters(
        t(s, dir, "documents")
          .select(explode(TA.tokens(coalesce(col("text"), lit(""))))
            .as("tok"))
          .filter(col("tok") =!= ""),
        "tok", fraction = 0.002, k = 1000)),

    // ---- LLM quality: self-trained char-trigram LM fluency score ----
    "q154_char_lm" -> ((s, dir) =>
      TA.charLmScore(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("nll", round(col("nll"), 9))),

    // ---- §2.4+ GROUPING SETS: explicit subtotal grains in ONE
    //      aggregation pass (the general form rollup specializes) ----
    "q155_grouping_sets" -> ((s, dir) =>
      GroupBy("l_returnflag", "l_linestatus")
        .groupingSets(Seq("l_returnflag", "l_linestatus"),
          Seq("l_returnflag"), Seq())
        .count("n")
        .agg(dsum("l_quantity").as("sum_qty"))
        .agg(grouping_id().cast("int").as("gid"))
        .apply(t(s, dir, "lineitem"))),

    // ---- data quality: referential-integrity audit across two FKs ----
    "q156_fk_integrity" -> ((s, dir) =>
      Quality.referentialIntegrity(t(s, dir, "events"),
          Seq(Quality.FkSpec("events_user", Seq("user_id"),
            t(s, dir, "customer"), Seq("c_custkey"))))
        .unionByName(Quality.referentialIntegrity(t(s, dir, "lineitem"),
          Seq(Quality.FkSpec("lineitem_part", Seq("l_partkey"),
            t(s, dir, "part"), Seq("p_partkey")))))),

    // ---- data quality: Benford first-digit drift over order totals ----
    "q157_benford" -> ((s, dir) =>
      Quality.benfordDrift(t(s, dir, "orders"), "o_totalprice")),

    // ---- feature transform: per-type empirical-CDF (midrank)
    //      normalization of event values ----
    "q158_empirical_cdf" -> ((s, dir) =>
      GroupBy.empiricalCdf(t(s, dir, "events"), Seq("event_type"), "value")
        .select(col("event_id"), col("event_type"), col("value"),
          col("cdf"))),

    // ---- §2.5 window coverage: percent_rank / cume_dist / nth_value
    //      with an explicit whole-partition frame ----
    "q159_window_ranks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byBal = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"))
      val full = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        .withColumn("pr", percent_rank().over(byBal))
        .withColumn("cd", cume_dist().over(byBal))
        .withColumn("second_bal", nth_value(col("c_acctbal"), 2).over(full))
    }),

    // ---- scale path: approx_percentile rank-error CONTRACT against
    //      exact ranks (the q146 engine-independent-claim pattern) —
    //      validates the sketch edges binByEdges/winsorize docs point
    //      to for the 10^9+ regime ----
    "q160_approx_contract" -> ((s, dir) => {
      val ps = Seq(0.25, 0.5, 0.75)
      val acc = 10000
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("value"))
      val edges = ev
        .agg(percentile_approx(col("value"), array(ps.map(lit): _*),
          lit(acc)).as("__edges"), count(lit(1)).as("__cnt"))
        .select(col("__cnt"), posexplode(col("__edges")))
        .withColumnRenamed("pos", "__i").withColumnRenamed("col", "__edge")
        .withColumn("p", element_at(array(ps.map(lit): _*), col("__i") + 1))
      val ranks = ev.crossJoin(broadcast(edges))
        .groupBy("p", "__edge", "__cnt")
        .agg(sum(when(col("value") <= col("__edge"), 1L).otherwise(0L))
          .as("__nle"),
          sum(when(col("value") < col("__edge"), 1L).otherwise(0L))
            .as("__nlt"))
      // GK sketch guarantee: returned edge's rank within ceil(n/acc)
      // of the target rank; +1 absorbs the floor/ceil reading
      val target = ceil(col("p").cast("decimal(18,12)") * col("__cnt"))
        .cast("long")
      val tol = ceil(col("__cnt").cast("decimal(18,12)") / acc)
        .cast("long") + 1
      ranks.select(col("p"), col("__cnt").as("n"),
        (target >= col("__nlt") + 1 - tol &&
          target <= col("__nle") + tol).as("ok"))
    }),

    // ---- streaming: the q151 transition matrix as incremental keyed
    //      state through real micro-batches (q138 feed contract:
    //      chronological hour chunks, one file per trigger) ----
    "q161_stream_transitions" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
        .select(col("user_id"), col("ts"), col("event_type"),
          col("event_id"), date_trunc("hour", col("ts")).as("hr"))
      val updates = orderedFeed(s, "q161", ev)(
        df => graft.streaming.Streaming.transitionsStream(
          df, "user_id", "ts", "event_type", "event_id"))
      graft.streaming.Streaming.foldTransitionUpdates(updates)
    }),

    // ---- stats: exact-decimal Pearson matrix over the lineitem
    //      money columns, ONE aggregation pass ----
    "q162_corr_matrix" -> ((s, dir) =>
      graft.agg.Stats.pearsonMatrix(t(s, dir, "lineitem"),
        Seq(("l_quantity", 2), ("l_extendedprice", 2), ("l_discount", 2)))),

    // ---- stats: per-type OLS trend of event value over time
    //      (exact decimal moments, pinned closing arithmetic) ----
    "q163_linreg" -> ((s, dir) =>
      graft.agg.Stats.linearFit(
        t(s, dir, "events")
          .withColumn("__x", unix_timestamp(col("ts"))),
        Seq("event_type"), "__x", "value", xScale = 0, yScale = 2)),

    // ---- multimodal dedup: real PNG decode → dHash → banded hamming
    //      near-dup pairs (bit-sampling LSH, pigeonhole-complete, so
    //      the all-pairs oracle is exactly equivalent) ----
    "q164_image_neardup" -> ((s, dir) => {
      import s.implicits._
      val hashes = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val png = Multimodal.rgbPng(9, 8, (x, y) => {
              // MULTIPLICATIVE class pattern: each class gets its own
              // gradient slope, so cross-class dhashes are FAR (an
              // additive offset cancels in neighbor comparisons and
              // made all 5000 sf0.1 docs one near-dup cluster — the
              // pair list then grows quadratically in corpus size
              // instead of class size)
              val base = (((id % 50 + 1) * (x * 7 + y * 13 + 3)) % 256).toInt
              val v = if (id % 2 == 1 && x == 4 && y == 4)
                (base + 60) % 256
              else base
              (v << 16) | (v << 8) | v
            })
            Multimodal.MediaRecord(id, png,
              Multimodal.MediaMeta("image/png", Some(9), Some(8), None))
          }
        }
        .transform(Multimodal.imageDHash(_))
        .toDF()
      Dedup.hammingPairs(hashes, "media_id", "dhash", bits = 64,
        maxHamming = 3, bands = 8)
    }),

    // ---- sketch set algebra: per-type Theta sketches → pairwise
    //      audience overlap, accuracy-contract gated (q146 pattern) ----
    "q165_theta_overlap" -> ((s, dir) => {
      import graft.agg.Sketches
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      val ov = Sketches.thetaOverlap(
        Sketches.thetaSketches(ev, Seq("event_type"), "user_id"),
        "event_type")
      val du = ev.select(col("event_type"), col("user_id")).distinct()
      val ex = du.as("a").join(du.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("g1"), col("b.event_type").as("g2"))
        .agg(count(lit(1)).as("n_exact_overlap"))
      val exact = coalesce(col("n_exact_overlap"), lit(0L))
      ov.join(ex, Seq("g1", "g2"), "left")
        .select(col("g1"), col("g2"), exact.as("n_exact_overlap"),
          (abs(col("est_overlap").cast("double") - exact.cast("double")) <=
            lit(0.05) * exact.cast("double") + lit(16.0)).as("overlap_ok"))
    }),

    // ---- sketch quantile cube: daily KLL sketches merged up to
    //      event_type, quantile edges rank-contract gated ----
    "q166_kll_quantiles" -> ((s, dir) => {
      import graft.agg.Sketches
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull && col("event_type").isNotNull)
      val daily = Sketches.kllSketches(
        ev.withColumn("day", to_date(col("ts"))),
        Seq("event_type", "day"), "value")
      val rolled = Sketches.kllRollup(daily, Seq("event_type"),
        Seq(0.25, 0.5, 0.75))
      val ranks = ev.select(col("event_type"), col("value"))
        .join(rolled, Seq("event_type"))
        .groupBy(col("event_type"), col("p"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") <= col("edge"), 1L).otherwise(0L)).as("__nle"),
          sum(when(col("value") < col("edge"), 1L).otherwise(0L)).as("__nlt"))
      // KLL k=200 ⇒ ~1.65% rank error at 99% confidence; 5% + 1 slack
      val target = ceil(col("p").cast("decimal(18,12)") * col("n"))
        .cast("long")
      val tol = ceil(col("n").cast("decimal(18,12)") * 0.05).cast("long") + 1
      ranks.select(col("event_type"), col("p"), col("n"),
        (target >= col("__nlt") + 1 - tol &&
          target <= col("__nle") + tol).as("ok"))
    }),

    // ---- monitoring: per-user EWMA smoothing (recursive fold —
    //      identical pinned IEEE ops both engines, no rounding) ----
    "q167_ewma" -> ((s, dir) =>
      graft.ops.TimeSeries.ewma(
        t(s, dir, "events").filter(col("user_id").isNotNull),
        Seq("user_id"), "ts", "event_id", "value", alpha = 0.3)),

    // ---- streaming: the q167 recurrence as O(1) keyed state — the
    //      unbounded-series path the batch array fold can't take ----
    "q168_stream_ewma" -> ((s, dir) => {
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
    }),

    // ---- analytics: day-of-week seasonality profile per event type ----
    "q169_seasonality" -> ((s, dir) =>
      graft.ops.TimeSeries.seasonalityProfile(
        t(s, dir, "events").filter(col("event_type").isNotNull),
        Seq("event_type"), "ts", "value")),

    // ---- text mining: RAKE keyphrase extraction over the corpus ----
    "q170_rake_keywords" -> ((s, dir) =>
      TA.rakeKeywords(t(s, dir, "documents"), "doc_id", "text",
        maxLen = 4, topK = 50)),

    // ---- multimodal dedup: real WAV decode → envelope fingerprint →
    //      banded hamming pairs (the q164 pattern on audio) ----
    "q171_audio_neardup" -> ((s, dir) => {
      import s.implicits._
      val fps = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val samples = Array.tabulate(1024) { i =>
              val base = (((id % 50 + 1) * (i * 13 + 7)) % 4096).toInt
              val v = if (id % 2 == 1 && i / 16 == 6) base + 512 else base
              v.toShort
            }
            Multimodal.MediaRecord(id, Multimodal.pcmWav(samples),
              Multimodal.MediaMeta("audio/wav", None, None, Some(128L)))
          }
        }
        .transform(Multimodal.audioFingerprint(_, buckets = 64))
        .toDF()
      Dedup.hammingPairs(fps, "media_id", "fp", bits = 64,
        maxHamming = 3, bands = 8)
    }),

    // ---- cleaning: mean + median imputation of null event values
    //      per type (the fill step before statistics/features) ----
    "q172_impute" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      T.impute(
        T.impute(ev, Seq("event_type"), "value", "mean", out = "value_mean"),
        Seq("event_type"), "value", "median", out = "value_median")
    }),

    // ---- product analytics: top frequent session paths (30-min gap
    //      sessions -> ordered event-type path -> counts) ----
    "q174_frequent_paths" -> ((s, dir) =>
      graft.ops.TimeSeries.frequentPaths(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type",
        gapMicros = 1800000000L, maxLen = 20, topK = 50)),

    // ---- record linkage: PassJoin edit-distance self-join over
    //      synthetic entity names (class base + parity suffix);
    //      completeness checked against the all-pairs oracle ----
    "q173_fuzzy_join" -> ((s, dir) =>
      // one name PER doc with NO universal substring: digits + one
      // parity letter. Matches are the one-digit same-parity
      // neighbors — linear pair mass, and no segment block goes hot.
      // (Two rejected fixtures taught the operator's two cost cliffs,
      // both documented on Fuzzy.selfJoin: id%300 collapsed 5000 docs
      // onto 600 names — pair list quadratic in duplication depth,
      // 26 s; a universal "-doc" suffix made one SEGMENT shared by
      // every same-length string — hot candidate blocks, 18 s.)
      graft.join.Fuzzy.selfJoin(
        t(s, dir, "documents").select(col("doc_id"),
          concat(col("doc_id").cast("string"),
            when(col("doc_id") % 2 === 1, lit("b")).otherwise(lit("a")))
            .as("name")),
        "doc_id", "name", maxDist = 1)),

    // ---- governance: k-anonymity audit over quasi-identifiers ----
    "q176_k_anonymity" -> ((s, dir) =>
      Quality.kAnonymity(
        t(s, dir, "customer")
          .withColumn("bal_band", floor(col("c_acctbal") / 1000)),
        Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 5)),

    // ---- analytics: 2-D Pareto front (cheapest-and-biggest parts)
    //      via one sorted sweep, not a quadratic exists-check ----
    "q177_skyline" -> ((s, dir) =>
      GroupBy.skyline2D(
        t(s, dir, "part").select(col("p_partkey"), col("p_retailprice"),
          col("p_size")),
        "p_retailprice", "p_size")),

    // ---- attribution: last marketing touch within 1h before each
    //      purchase (as-of join composition) ----
    "q178_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      // one touch per (user, instant): ties collapse to max event_id so
      // the as-of pick is deterministic
      val touches = ev.filter(col("event_type") =!= "purchase")
        .withColumn("__r", row_number().over(
          Window.partitionBy(col("user_id"), col("ts"))
            .orderBy(col("event_id").desc)))
        .filter(col("__r") === 1)
        .select(col("user_id"), col("ts").as("touch_ts"),
          col("event_id").as("touch_event_id"),
          col("event_type").as("touch_type"))
      Joins.asOf(purchases, touches, Seq("user_id"), "ts", "touch_ts")
        .withColumn("age_us",
          unix_micros(col("ts")) - unix_micros(col("asof_touch_ts")))
        .filter(col("asof_touch_event_id").isNotNull &&
          col("age_us") <= 3600000000L)
        .select(col("event_id"), col("user_id"),
          col("asof_touch_event_id").as("touch_event_id"),
          col("asof_touch_type").as("touch_type"), col("age_us"))
    }),

    // ---- dashboards: day-over-day movers per event type ----
    "q179_period_over_period" -> ((s, dir) =>
      graft.ops.TimeSeries.periodOverPeriod(
        t(s, dir, "events").filter(col("event_type").isNotNull),
        Seq("event_type"), "ts", "value", unit = "day")),

    // ---- streaming: log compaction as keyed state through real
    //      micro-batches (the q134 rule, last value carried across
    //      batch boundaries) ----
    "q180_stream_compaction" -> ((s, dir) => {
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
    }),

    // ---- OLAP: ABC/Pareto revenue classification per part ----
    "q181_abc_classes" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = t(s, dir, "lineitem")
        .filter(col("l_partkey").isNotNull)
        .groupBy(col("l_partkey"))
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(BigDecimal("1.00")) - col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(28,4)")).as("__rev"))
      val tot = rev.agg(sum("__rev").as("__tot"))
      val w = Window.orderBy(col("__rev").desc, col("l_partkey").asc)
      rev.crossJoin(broadcast(tot))
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("__cum", sum(col("__rev")).over(
          Window.orderBy(col("__rev").desc, col("l_partkey").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("revenue", col("__rev").cast("double"))
        .withColumn("cum_share",
          col("__cum").cast("double") / col("__tot").cast("double"))
        .withColumn("abc_class",
          when(col("cum_share") <= 0.8, "A")
            .when(col("cum_share") <= 0.95, "B").otherwise("C"))
        .select(col("l_partkey"), col("rank"), col("revenue"),
          col("cum_share"), col("abc_class"))
    }),

    // ---- dashboards at sketch cost: 3-day rolling distinct users
    //      per type from daily HLL sketches (one raw scan ever);
    //      accuracy contract vs the exact rolling distinct ----
    "q182_rolling_uniques" -> ((s, dir) => {
      import graft.agg.Sketches
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
          col("ts").isNotNull)
        .withColumn("day", to_date(col("ts")))
      val daily = Sketches.sketches(ev, Seq("event_type", "day"), "user_id")
      val rolled = Sketches.rollingDistinct(daily, Seq("event_type"),
        "day", window = 3)
      // exact side: distinct (type, day, user) exploded over the 3-day
      // trailing frame via a small range join on present days
      val du = ev.select(col("event_type"), col("day"), col("user_id"))
        .distinct()
      val days = du.select(col("event_type"), col("day")).distinct()
      val exact = days.as("d").join(du.as("u"),
          col("u.event_type") === col("d.event_type") &&
            col("u.day") >= date_sub(col("d.day"), 2) &&
            col("u.day") <= col("d.day"))
        .groupBy(col("d.event_type").as("event_type"), col("d.day").as("day"))
        .agg(countDistinct(col("u.user_id")).as("n_exact"))
      rolled.select(col("event_type"), col("day"), col("estimate"))
        .join(exact, Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("n_exact"),
          (abs(col("estimate") - col("n_exact").cast("double")) <=
            lit(0.05) * col("n_exact").cast("double") + lit(16.0))
            .as("estimate_ok"))
    }),

    // ---- stats: weighted exact discrete percentiles (quantity-
    //      weighted price quartiles per return flag) ----
    "q183_weighted_median" -> ((s, dir) =>
      GroupBy.weightedPercentilesDisc(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice", "l_quantity",
        Seq(0.25, 0.5, 0.75), out = "price")),

    // ---- streaming: per-type distinct users via MERGEABLE HLL
    //      sketch state (bounded state for unbounded keyspaces);
    //      accuracy-contract gated ----
    "q184_stream_distinct" -> ((s, dir) => {
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
    }),

    // ---- ETL: dataset patch/overlay — prefer the correction
    //      snapshot's values, fall back to the base (full-outer +
    //      per-column coalesce) ----
    "q185_patch" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      // corrections: every 7th order re-priced, every 13th new-only row
      val fixes = t(s, dir, "orders")
        .filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
          (col("o_totalprice").cast("decimal(18,2)") +
            lit(BigDecimal("1.00"))).cast("double").as("o_totalprice"))
      T.patch(base.filter(col("o_orderkey") % 13 =!= 0), fixes,
        Seq("o_orderkey"))
    }),

    // ---- warehouse: SCD2 point-in-time lookup — each order joined
    //      to the dimension version valid at its order date ----
    "q186_scd2_lookup" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"),
        col("c_mktsegment"))
      // two versions per customer: pre-1996 segment "LEGACY", then the
      // actual segment (half-open validity intervals)
      val dim = c.withColumn("c_mktsegment", lit("LEGACY"))
        .withColumn("valid_from", to_date(lit("1992-01-01")))
        .withColumn("valid_to", to_date(lit("1996-01-01")))
        .unionByName(c
          .withColumn("valid_from", to_date(lit("1996-01-01")))
          .withColumn("valid_to", to_date(lit("9999-12-31"))))
      SCD.pointInTime(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate")).withColumnRenamed("o_custkey", "c_custkey"),
        dim, Seq("c_custkey"), "o_orderdate", "valid_from", "valid_to")
    }),

    // ---- feature engineering: autoregressive lag block per user ----
    "q187_lag_features" -> ((s, dir) =>
      graft.ops.TimeSeries.lagFeatures(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"), col("value")),
        Seq("user_id"), "ts", "event_id", "value", lags = Seq(1, 2, 3))),

    // ---- model-ops: embedding-centroid drift between segments
    //      (integer-quantized per-dim sums, dimension-ordered fold) ----
    "q188_centroid_drift" -> ((s, dir) =>
      Similarity.centroidDrift(
        t(s, dir, "embeddings")
          .withColumn("half", (col("vec_id") % 2).cast("int")),
        "half", "embedding")),

    // ---- contrastive training data: deterministic hash-ring
    //      negative sampling + payload join ----
    "q189_negative_sampling" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.llm.Sampling.negativeSamples(docs, "doc_id", k = 4)
        .join(docs.select(col("doc_id").as("neg_id"),
          col("n_chars").as("neg_chars")), Seq("neg_id"))
        .select(col("doc_id"), col("slot"), col("neg_id"), col("neg_chars"))
    }),

    // ---- SQL surface: the engine speaks ANSI SQL too — TPC-H Q4
    //      shape (EXISTS decorrelated by Catalyst into a semi join) ----
    "q190_sql_exists" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("graft_q190_orders")
      t(s, dir, "lineitem").createOrReplaceTempView("graft_q190_lineitem")
      s.sql("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM graft_q190_orders
        WHERE EXISTS (
          SELECT 1 FROM graft_q190_lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        GROUP BY o_orderpriority""")
    }),

    // ---- SQL surface: correlated scalar subquery (above-nation-
    //      average customers; cross-multiplied exact compare) ----
    "q191_sql_correlated" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("graft_q191_customer")
      s.sql("""
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM graft_q191_customer c
        WHERE CAST(c_acctbal AS DECIMAL(18,2)) * (
            SELECT count(*) FROM graft_q191_customer i
            WHERE i.c_nationkey = c.c_nationkey) > (
            SELECT sum(CAST(c_acctbal AS DECIMAL(18,2)))
            FROM graft_q191_customer i
            WHERE i.c_nationkey = c.c_nationkey)""")
    }),

    // ---- recrawl policy: anchored-gap keep filter (one re-admit per
    //      30-min window since the last KEPT event) ----
    "q192_anchored_throttle" -> ((s, dir) =>
      graft.ops.TimeSeries.anchoredThrottle(
        t(s, dir, "events").filter(col("user_id").isNotNull),
        Seq("user_id"), "ts", "event_id", minGapMicros = 1800000000L)),

    // ---- ops diagnostics: join-key skew report over the lineitem
    //      key columns (the salted-join decision input) ----
    "q193_skew_report" -> ((s, dir) =>
      Quality.skewReport(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))),

    // ---- A/B reporting: conversion rates with Wilson-score CIs ----
    "q194_conversion_ci" -> ((s, dir) =>
      Quality.conversionRates(t(s, dir, "events"), Seq("event_type"),
        col("value") > 500)),

    // ---- product analytics: step-to-step funnel conversion rates
    //      (composes the q127 funnel) ----
    "q195_funnel_rates" -> ((s, dir) => {
      val f = graft.ops.TimeSeries.funnel(t(s, dir, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      val agg = f.agg(count(lit(1)).as("__c0"),
        sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("__c1"),
        sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("__c2"),
        sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("__c3"))
      agg.select(explode(array(
          struct(lit(1).as("step"), col("__c1").as("n_reached"),
            col("__c0").as("n_prev")),
          struct(lit(2).as("step"), col("__c2").as("n_reached"),
            col("__c1").as("n_prev")),
          struct(lit(3).as("step"), col("__c3").as("n_reached"),
            col("__c2").as("n_prev")))).as("__s"))
        .select(col("__s.*"))
        .withColumn("rate",
          when(col("n_prev") > 0,
            col("n_reached").cast("double") / col("n_prev").cast("double")))
    }),

    // ---- analytics: dense equal-width histogram per event type ----
    "q196_histogram" -> ((s, dir) =>
      GroupBy.histogram(t(s, dir, "events"), Seq("event_type"),
        "value", bins = 20)),

    // ---- growth analytics: cohort LTV curve — cumulative value per
    //      signup cohort by month-age (exact decimal sums) ----
    "q197_cohort_ltv" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
      // hour grain: the synthetic feed spans days, not years.
      // ONE corpus scan: pre-aggregate to (user, hour) with map-side
      // partials, take each user's first hour with a window MIN on
      // that aggregate, then roll up to (cohort, age). The agg-and-
      // join-back shape reads events twice and makes the per-USER
      // first-touch relation a join build side — AQE broadcasts it at
      // bench scale, and per-user cardinality is never broadcastable
      // at 100 TB. Every post-scan relation here is aggregate-sized.
      val hourly = ev
        .select(col("user_id"), date_trunc("hour", col("ts")).as("__h"),
          col("value").cast("decimal(18,2)").as("__v"))
        .groupBy(col("user_id"), col("__h"))
        .agg(count(lit(1)).as("__n"), sum(col("__v")).as("__hv"))
      val aged = hourly
        .withColumn("cohort",
          min(col("__h")).over(Window.partitionBy(col("user_id"))))
        .withColumn("age",
          ((unix_timestamp(col("__h")) -
            unix_timestamp(col("cohort"))) / 3600).cast("long"))
        .groupBy(col("cohort"), col("age"))
        .agg(sum(col("__n")).as("n_events"), sum(col("__hv")).as("__v"))
      val w = Window.partitionBy(col("cohort")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      aged
        .withColumn("value", col("__v").cast("double"))
        .withColumn("cum_value", sum(col("__v")).over(w).cast("double"))
        .drop("__v")
    }),

    // ---- curation: per-doc 5-gram novelty rate (fraction of gram
    //      occurrences whose gram appears in NO other doc); hashed
    //      grams, one corpus scan, one occurrence exchange ----
    "q198_novelty" -> ((s, dir) =>
      TA.noveltyRate(t(s, dir, "documents"), "doc_id", "text", n = 5)),

    // ---- engagement: longest consecutive-day streak per user ----
    "q199_streaks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val days = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days
        .withColumn("__grp",
          datediff(col("day"), to_date(lit("1970-01-01"))) -
            row_number().over(w))
        .groupBy(col("user_id"), col("__grp"))
        .agg(count(lit(1)).as("__len"))
        .groupBy(col("user_id"))
        .agg(max(col("__len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"))
    }),

    // ---- capstone: per-source dataset card — the numbers a corpus
    //      release ships with, in one pass each ----
    "q200_dataset_card" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("source").isNotNull)
        .withColumn("__fp", TA.fingerprint(coalesce(col("text"), lit(""))))
        .withColumn("__tok", TA.tokenCount(coalesce(col("text"), lit(""))))
      val basics = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__tok")).as("n_tokens"),
          countDistinct(col("__fp")).as("__uniq"))
        .withColumn("dup_fraction",
          (col("n_docs") - col("__uniq")).cast("double") /
            col("n_docs").cast("double"))
      val med = GroupBy.percentilesDisc(docs, Seq("source"), "n_chars",
          Seq(0.5), out = "median_chars")
        .select(col("source"), col("median_chars"))
      basics.join(med, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("median_chars"), col("dup_fraction"))
    }),

    // ---- completeness audit: missing id ranges in the order-key
    //      sequence (gaps-and-islands over distinct present values) ----
    "q175_gaps" -> ((s, dir) =>
      // the generator's keys are dense — punch deterministic holes so
      // the audit has something to find (real ledgers have real gaps)
      graft.ops.TimeSeries.gaps(
        t(s, dir, "orders").filter(col("o_orderkey") % 97 =!= 0 &&
          col("o_orderkey") % 89 =!= 3),
        Nil, "o_orderkey")),

    // ---- mining: market-basket association rules over order baskets
    //      (support / confidence / lift on exact integer counts) ----
    "q201_assoc_rules" -> ((s, dir) =>
      graft.mining.Associations.rules(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairSupport = 2L, maxPerGroup = 8)),

    // ---- monitoring: two-sided sliding-window level-shift score per
    //      event stream (exact-decimal window sums, one division) ----
    "q202_level_shift" -> ((s, dir) =>
      graft.ops.TimeSeries.levelShift(
        t(s, dir, "events").filter(col("event_type").isNotNull),
        Seq("event_type"), "ts", "event_id", "value", w = 50)),

    // ---- graph: resource-allocation link prediction on the co-order
    //      part graph (integer-exact Σ floor(1e12/deg) scores) ----
    "q203_link_prediction" -> ((s, dir) =>
      graft.graph.Graph.linkPredictionRA(
        graft.graph.Graph.coOccurrenceEdges(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", maxPerGroup = 8)
          .select(col("u"), col("v")), maxDegree = 60)),

    // ---- record linkage: Jaro-Winkler similarity self-join over part
    //      names (DuckDB-pinned kernel, first-char + length-band
    //      blocking as part of the semantics) ----
    "q204_jw_join" -> ((s, dir) =>
      graft.join.Fuzzy.jaroWinklerSelfJoin(
        t(s, dir, "part").select(col("p_partkey"), col("p_name")),
        "p_partkey", "p_name", threshold = 0.94, lengthBand = 2)),

    // ---- curation: readability — Flesch-Kincaid grade from pinned
    //      token/sentence/vowel-group counts ----
    "q205_readability" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TA.tokenCount(col("text")).as("n_words"),
        TA.sentenceCount(col("text")).as("n_sentences"),
        TA.syllableCount(col("text")).as("n_syllables"),
        TA.fleschKincaidGrade(col("text")).as("fk_grade"))),

    // ---- curation: hapax-legomenon rate per source (vocabulary
    //      health: template spam → 0, OCR noise / ID dumps → 1) ----
    "q206_hapax" -> ((s, dir) =>
      TA.hapaxRate(t(s, dir, "documents"), Seq("source"), "text")),

    // ---- A/B stats: Welch's unequal-variance t per event type
    //      (hash-split arms; t and Welch-Satterthwaite dof from exact
    //      decimal moments, pinned IEEE composition) ----
    "q208_welch_t" -> ((s, dir) =>
      graft.agg.Stats.welchT(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .withColumn("arm",
            when(col("user_id") % 2 === 0, "a").otherwise("b")),
        Seq("event_type"), "arm", "a", "b", "value")),

    // ---- sampling: sequential Poisson (weight-proportional exact-k
    //      per language, quantized integer priorities) ----
    "q209_weighted_priority" -> ((s, dir) =>
      graft.llm.Sampling.weightedPriority(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        Seq("lang"), "doc_id", "n_chars", k = 5, salt = "wp1")),

    // ---- training data: deterministic MLM example generation
    //      (hash-chosen masks, flat masked_text/targets strings) ----
    "q210_mlm_mask" -> ((s, dir) =>
      graft.llm.Augment.mlmMask(t(s, dir, "documents"), "doc_id", "text",
        denom = 7)),

    // ---- finance ETL: largest-remainder pro-rata — spread each
    //      order's total over its lines by quantity, exact to the
    //      cent, lines summing back to the order total ----
    "q207_prorata" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"))
      val o = t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
        col("o_totalprice"))
      // gate outputs DOUBLE, not the operator's DECIMAL(18,2): the
      // driver's hash reads spark parquet and the DuckDB oracle through
      // different decimal value paths, so decimal gate columns hash-
      // mismatch even when values are equal (r11 lesson — see
      // GateSchemaSpec)
      graft.ops.Allocate.proRata(li.join(o, Seq("l_orderkey")),
        Seq("l_orderkey"), "l_linenumber", "l_quantity", "o_totalprice")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("allocated").cast("double").as("allocated"))
    }),

    // ---- A/B stats: Mann-Whitney U (rank-sum) per event type —
    //      the nonparametric companion to q208's Welch t; exact
    //      doubled-rank arithmetic, tie-corrected z ----
    "q211_mann_whitney" -> ((s, dir) =>
      graft.agg.Stats.mannWhitneyU(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .withColumn("arm",
            when(col("user_id") % 2 === 0, "a").otherwise("b")),
        Seq("event_type"), "arm", "a", "b", "value")),

    // ---- stats: Spearman rank correlation per return flag —
    //      monotonic association of quantity vs price, tie-averaged
    //      ranks on the exact integer grid ----
    "q212_spearman" -> ((s, dir) =>
      graft.agg.Stats.spearman(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_quantity", "l_extendedprice")),

    // ---- metrics hygiene: Benjamini-Hochberg FDR per language over
    //      deterministic sub-uniform p's (u² of the md5 draw) ----
    "q213_bh_fdr" -> ((s, dir) => {
      val u = TA.md5i(concat(col("doc_id").cast("string"), lit("bh1")))
        .cast("double") / lit(4294967296.0)
      graft.agg.Stats.benjaminiHochberg(
        t(s, dir, "documents").select(col("doc_id"), col("lang"))
          .withColumn("p", u * u),
        Seq("lang"), "doc_id", "p", alpha = 0.3)
        .select("lang", "doc_id", "p", "rank", "p_adj", "significant")
    }),

    // ---- curation: quantile normalization — every source's n_chars
    //      mapped onto the POOLED length distribution (midpoint-rank
    //      convention, all-integer grid arithmetic) ----
    "q214_quantile_norm" -> ((s, dir) =>
      // normalized cast decimal→double: no decimal gate columns (r11
      // driver-hash lesson, see q207 / GateSchemaSpec)
      graft.ops.Normalize.quantileNormalize(
        t(s, dir, "documents")
          .filter(col("source").isNotNull && col("n_chars").isNotNull)
          .select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars")
        .withColumn("normalized", col("normalized").cast("double"))),

    // ---- eval: Cohen's kappa per source between the labeled lang
    //      and the n-gram language-ID prediction — chance-corrected
    //      classifier agreement ----
    "q215_judge_kappa" -> ((s, dir) =>
      graft.agg.Stats.cohenKappa(
        t(s, dir, "documents").withColumn("pred", TA.langId(col("text"))),
        Seq("source"), "lang", "pred")),

    // ---- vocabulary health: Zipf slope per source — OLS of
    //      log-frequency on log-rank (natural text ≈ −1) ----
    "q216_zipf_slope" -> ((s, dir) =>
      TA.zipfSlope(t(s, dir, "documents"), Seq("source"), "text")),

    // ---- audit: Benford first-digit deviation per return flag —
    //      χ² + MAD against the pinned log10(1+1/d) expectations ----
    "q217_benford" -> ((s, dir) =>
      Quality.benfordDeviation(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice")),

    // ---- retention: Kaplan-Meier per signup-month cohort — censored
    //      at the corpus edge (active within 7 days of max = censored,
    //      not churned); emits the pinned log-survival curve ----
    "q218_kaplan_meier" -> ((s, dir) => {
      // checkpoint the per-user relation: the corpus-edge max reads it
      // too — without this the events scan and user aggregate run twice
      val per = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("first_d"),
          max(to_date(col("ts"))).as("last_d"))
        .localCheckpoint(false)
      val mx = per.agg(max(col("last_d")).as("__mx"))
      val subj = per.crossJoin(broadcast(mx))
        .withColumn("duration",
          datediff(col("last_d"), col("first_d")).cast("long"))
        .withColumn("observed", datediff(col("__mx"), col("last_d")) >= 7)
        .withColumn("cohort", date_trunc("month", col("first_d")).cast("date"))
      graft.ops.Survival.kaplanMeier(subj, Seq("cohort"),
        "duration", "observed")
    }),

    // ---- product analytics: lead/lag detection — Pearson r between
    //      daily click volume and purchase volume `lag` days later ----
    "q219_lagged_corr" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
        .withColumn("t",
          datediff(col("day"), to_date(lit("1970-01-01"))).cast("long"))
      graft.ops.TimeSeries.laggedCrossCorr(daily, Seq.empty, "t", "x", "y",
        maxLag = 7, xScale = 0, yScale = 0)
    }),

    // ---- audit: revenue concentration — Gini per return flag on the
    //      exact cent-grid rank identity ----
    "q220_gini" -> ((s, dir) =>
      graft.agg.Stats.gini(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice")),

    // ---- corpus health: pairwise Jensen-Shannon divergence between
    //      sources' unigram distributions (shared-token join +
    //      exclusive-mass closed form) ----
    "q221_jsd" -> ((s, dir) =>
      TA.jensenShannonBySlice(t(s, dir, "documents"), "source", "text")),

    // ---- record linkage proper: TWO-relation Jaro-Winkler join
    //      (catalog halves standing in for two vendor feeds) ----
    "q222_jw_linkage" -> ((s, dir) => {
      // parity split, not a key threshold: both halves are non-empty
      // at every scale factor
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      graft.join.Fuzzy.jaroWinklerJoin(
        p.filter(col("p_partkey") % 2 === 0), "p_partkey", "p_name",
        p.filter(col("p_partkey") % 2 === 1), "p_partkey", "p_name",
        threshold = 0.94, lengthBand = 2)
    }),

    // ---- training data: T5-style span corruption — block-hashed
    //      non-overlapping spans, consecutive sentinels ----
    "q223_span_corrupt" -> ((s, dir) =>
      graft.llm.Augment.spanCorrupt(t(s, dir, "documents"),
        "doc_id", "text", blockSize = 10, spanLen = 3, denom = 3)),

    // ---- training data: EXACT stratified train/valid/test split —
    //      hash-ranked consecutive ranges, floor-boundary counts ----
    "q224_exact_split" -> ((s, dir) =>
      graft.llm.Sampling.exactSplit(
        t(s, dir, "documents").select("doc_id", "lang"),
        Seq("lang"), "doc_id",
        Seq("train" -> 0.7, "valid" -> 0.2, "test" -> 0.1), salt = "sp1")),

    // ---- eval: mutual information + entropies + NMI between the
    //      label and source columns (does source leak the label?) ----
    "q225_mutual_info" -> ((s, dir) =>
      graft.agg.Stats.mutualInfo(t(s, dir, "documents"),
        Seq.empty, "lang", "source")),

    // ---- robust stats: stride-sampled Theil-Sen value trend per
    //      event type (median-of-slopes — outliers can't move it) ----
    "q226_theil_sen" -> ((s, dir) =>
      graft.agg.Stats.theilSen(
        t(s, dir, "events")
          .withColumn("__x", unix_timestamp(col("ts"))),
        Seq("event_type"), "__x", "value", "event_id",
        xScale = 0, yScale = 2)),

    // ---- corpus health: token burstiness — zero-inclusive
    //      variance-to-mean dispersion of the top-100 tokens ----
    "q227_burstiness" -> ((s, dir) =>
      TA.tokenBurstiness(t(s, dir, "documents"), "doc_id", "text",
        topK = 100)),

    // ---- dedup: DIRECTED containment pairs — asymmetric overlap
    //      (quotes/wrappers/reposts symmetric Jaccard can't see);
    //      one-sided rarest-prefix filter ----
    "q228_containment" -> ((s, dir) =>
      graft.llm.Dedup.containmentPairs(t(s, dir, "documents"),
        "doc_id", "text", shingleN = 3, threshold = 0.8)),

    // ---- streaming: per-key running quantiles via MERGEABLE KLL
    //      sketch state; rank-error-contract gated (the q184/q146
    //      pattern — the estimate is sketch arithmetic, the CLAIM is
    //      engine-independent) ----
    "q229_stream_quantiles" -> ((s, dir) => {
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
    }),

    // ---- retrieval eval: rank-biased overlap between the exact and
    //      LSH rankings — order-sensitive, top-weighted (recall@k
    //      can't see rank agreement) ----
    "q230_rbo" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
        k = 10)
      val approx = Similarity.lshTopK(e, qs, "vec_id", "embedding",
        k = 10, bits = 6)
      Similarity.rankBiasedOverlap(exact, approx, "query_id",
        "neighbor_id", "rank", k = 10, p = 0.9)
    }),

    // ---- retrieval eval: nDCG@10 of the LSH ranking against exact —
    //      graded, log-discounted, literal-pinned discounts ----
    "q231_ndcg" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
        k = 10)
      val approx = Similarity.lshTopK(e, qs, "vec_id", "embedding",
        k = 10, bits = 6)
      Similarity.ndcgAtK(approx, exact, "query_id", "neighbor_id",
        "rank", k = 10)
    }),

    // ---- monitoring: 7-day rolling correlation of daily click vs
    //      purchase volume — exact decimal frame moments ----
    "q232_rolling_corr" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
        .withColumn("t",
          datediff(col("day"), to_date(lit("1970-01-01"))).cast("long"))
      // x/y cast decimal→long: no decimal gate columns (r11 driver-hash
      // lesson, see q207 / GateSchemaSpec)
      graft.ops.TimeSeries.rollingCorr(daily, Seq.empty, "t", "t",
        "x", "y", window = 7, xScale = 0, yScale = 0)
        .withColumn("x", col("x").cast("long"))
        .withColumn("y", col("y").cast("long"))
    }),

    // ---- A/B stats: two-proportion z per event type (pooled
    //      variance) — the rate sibling of q208/q211 ----
    "q233_two_prop_z" -> ((s, dir) =>
      graft.agg.Stats.twoProportionZ(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .withColumn("arm",
            when(col("user_id") % 2 === 0, "a").otherwise("b"))
          .withColumn("hit", col("value") >= 50),
        Seq("event_type"), "arm", "a", "b", "hit")),

    // ---- graph: local clustering coefficient over the q152
    //      co-purchase graph — community density per vertex ----
    "q234_clustering_coeff" -> ((s, dir) =>
      graft.graph.Graph.clusteringCoefficient(
        graft.graph.Graph.coOccurrenceEdges(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", maxPerGroup = 8))),

    // ---- ops: interval-union coverage — per-user active time from
    //      overlapping 30-min event leases (sweep, no double count) ----
    "q235_interval_coverage" -> ((s, dir) =>
      graft.ops.TimeSeries.intervalCoverage(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("lease_start"),
            (unix_micros(col("ts")) + lit(1800000000L)).as("lease_end")),
        Seq("user_id"), "lease_start", "lease_end")),

    // ---- joins: as-of with TOLERANCE — last touch before each
    //      purchase, but only within 30 minutes (stale matches null) ----
    "q236_asof_within" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .withColumn("__r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"), col("ts"))
            .orderBy(col("event_id").desc)))
        .filter(col("__r") === 1)
        .select(col("user_id"), col("ts").as("touch_ts"),
          col("event_id").as("touch_event_id"),
          col("event_type").as("touch_type"))
      graft.join.Joins.asOfWithin(purchases, touches, Seq("user_id"),
        "ts", "touch_ts", maxGap = 1800000000L)
        .select(col("event_id"), col("user_id"),
          col("asof_touch_event_id"), col("asof_touch_type"))
    }),

    // ---- streaming: Misra-Gries heavy-hitter state — bounded
    //      counters for an unbounded item space; recall-contract
    //      gated (candidates beyond the guarantee are arrival-order
    //      artifacts and never hashed) ----
    "q237_stream_heavy_hitters" -> ((s, dir) => {
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
    }),

    // ---- §2.1+: fixed-width (copybook) source — write nation as a
    //      positional layout, read it back by column spec ----
    "q238_fixed_width" -> ((s, dir) => {
      val tmp = gateTempDir(s, "graft_q238")
      t(s, dir, "nation")
        .select(format_string("%-4d%-25s%-4d", col("n_nationkey"),
          col("n_name"), col("n_regionkey")).as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$tmp/fw")
      graft.sources.Sources.fixedWidth(s, s"$tmp/fw", Seq(
        graft.sources.Sources.FixedWidthCol("n_nationkey", 1, 4, "long"),
        graft.sources.Sources.FixedWidthCol("n_name", 5, 25),
        graft.sources.Sources.FixedWidthCol("n_regionkey", 30, 4, "long")))
    }),

    // ---- A/B stats: two-sample Kolmogorov-Smirnov per event type —
    //      distribution-SHAPE drift between arms (q211's rank-sum
    //      sibling); exact integer D numerator ----
    "q239_ks_test" -> ((s, dir) =>
      graft.agg.Stats.ksTest(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .withColumn("arm",
            when(col("user_id") % 2 === 0, "a").otherwise("b")),
        Seq("event_type"), "arm", "a", "b", "value")),

    // ---- stats: Kendall tau-b per (flag, ship month) — concordance
    //      of quantity vs price with full tie corrections; the engine
    //      counts discordant pairs in O(n log n), the oracle replays
    //      the textbook O(n²) sweep ----
    "q240_kendall_tau" -> ((s, dir) =>
      graft.agg.Stats.kendallTau(
        t(s, dir, "lineitem").filter(col("l_shipdate").isNotNull)
          .withColumn("ship_month", trunc(col("l_shipdate"), "month")),
        Seq("l_returnflag", "ship_month"),
        "l_quantity", "l_extendedprice")),

    // ---- finance ETL: FIFO lot matching per user — purchases burn
    //      down click-earned credit lots oldest-first; the cursor walk
    //      as cumulative-interval intersection, all integer cents ----
    "q241_fifo_match" -> ((s, dir) => {
      val e = t(s, dir, "events").filter(col("user_id").isNotNull &&
        col("value").isNotNull && col("ts").isNotNull)
      graft.ops.Ledger.fifoMatch(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"),
        Seq("user_id"), "ts", "event_id", "value",
        "ts", "event_id", "value")
    }),

    // ---- marketing ETL: multi-touch attribution — each purchase
    //      credits the user's clicks in the prior 7 days
    //      (first/last/linear at once); touchless purchases keep a
    //      reconciliation row ----
    "q242_attribution" -> ((s, dir) => {
      val e = t(s, dir, "events").filter(col("user_id").isNotNull &&
        col("ts").isNotNull)
      graft.ops.Attribution.attribute(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase" && col("value").isNotNull),
        Seq("user_id"), "event_id", "ts", "event_id", "ts", "value",
        windowMicros = 7L * 24 * 3600 * 1000000L)
    }),

    // ---- monitoring: additive seasonal decomposition of daily
    //      signup volume (period 7): trend = centered 7-day MA,
    //      seasonal = day-of-week mean of the detrended series —
    //      integer-numerator arithmetic, two pinned divisions ----
    "q243_seasonal" -> ((s, dir) =>
      graft.ops.TimeSeries.seasonalDecompose(
        t(s, dir, "events")
          .filter(col("ts").isNotNull && col("event_type") === "signup")
          .groupBy(datediff(to_date(col("ts")),
            to_date(lit("1970-01-01"))).cast("long").as("t"))
          .agg(count(lit(1)).as("v")),
        Seq.empty, "t", "v", period = 7)),

    // ---- monitoring: Bollinger bands on daily view volume — rolling
    //      mean ± 2σ over a trailing 7-day frame + breach flags;
    //      exact integer frame moments, pinned closing ----
    "q244_bollinger" -> ((s, dir) =>
      graft.ops.TimeSeries.bollinger(
        t(s, dir, "events")
          .filter(col("ts").isNotNull && col("event_type") === "view")
          .groupBy(datediff(to_date(col("ts")),
            to_date(lit("1970-01-01"))).cast("long").as("t"))
          .agg(count(lit(1)).as("v")),
        Seq.empty, "t", "v", window = 7, k = 2.0)),

    // ---- curation: per-doc character-class profile — ASCII
    //      letter/digit/space/punct/other counts and fractions, the
    //      cheap binary-spill / table-dump / mojibake first pass ----
    "q245_script_profile" -> ((s, dir) =>
      TA.scriptProfile(t(s, dir, "documents"), "doc_id", "text")),

    // ---- curation: Heaps'-law vocabulary-growth exponent per source
    //      — OLS of ln(cumulative distinct) on ln(cumulative tokens)
    //      over doc-id checkpoints (q216 zipf's companion) ----
    "q246_heaps_law" -> ((s, dir) =>
      TA.heapsLaw(t(s, dir, "documents").filter(col("source").isNotNull),
        Seq("source"), "doc_id", "text")),

    // ---- RAG prep: 64-token chunks with 16-token overlap — all-
    //      integer chunk geometry, one shuffle-free scan ----
    "q247_chunking" -> ((s, dir) =>
      graft.llm.Chunking.chunkByTokens(t(s, dir, "documents"),
        "doc_id", "text", chunkTokens = 64, overlapTokens = 16)),

    // ---- reshape: unpivot (melt) the lineitem measures to tidy
    //      long form — one codegen'd stack generator ----
    "q248_melt" -> ((s, dir) =>
      graft.ops.Transforms.melt(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // ---- graph: k-core backbone of the co-purchase graph at
    //      k = min degree + 1 (forces a real peel on any fixture
    //      realization); iterative driver-coordinated peel ----
    "q249_kcore" -> ((s, dir) => {
      // checkpoint: the edge build feeds the k-selection degree scan
      // (twice, via the union) AND the peel — without the cut the
      // pair self-join runs 3x (sf0.1 warm 4.7 → 3.3 s, 21 → 18
      // jobs, measured)
      val edges = graft.graph.Graph.coOccurrenceEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey", maxPerGroup = 8)
        .localCheckpoint(false)
      val deg = edges.select(col("u").as("n"))
        .unionByName(edges.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      // ONE scalar collected (the q85-threshold precedent): the gate's
      // k rides the data so the peel is nontrivial at every SF
      val k = deg.agg(min(col("d")).as("m")).head.getLong(0) + 1
      graft.graph.Graph.kCore(edges, k.toInt)
    }),

    // ---- streaming: distribution-drift monitor — exact per-key bin
    //      counts in the state store, PSI per batch; the gate hashes
    //      the engine-independent claims (final exact histogram) ----
    "q250_stream_drift" -> ((s, dir) => {
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
    }),

    // ---- ML prep: feature hashing — vocabulary-free token counts
    //      folded into 64 buckets by the cross-engine md5 hash ----
    "q251_feature_hashing" -> ((s, dir) =>
      TA.hashingTrick(t(s, dir, "documents"), "doc_id", "text", dim = 64)),

    // ---- profiling: functional-dependency check — does
    //      l_partkey → l_suppkey hold, and where does it break ----
    "q252_fd_profile" -> ((s, dir) =>
      Quality.functionalDependency(
        t(s, dir, "lineitem").filter(col("l_partkey").isNotNull),
        Seq("l_partkey"), "l_suppkey")),

    // ---- model eval: calibration curve per event type over a
    //      deterministic hash-derived probability vs the value>=50
    //      outcome ----
    "q253_calibration" -> ((s, dir) =>
      graft.agg.Stats.calibration(
        t(s, dir, "events").filter(col("value").isNotNull)
          .withColumn("p",
            TA.md5i(concat(col("event_id").cast("string"), lit("cal")))
              .cast("double") / lit(4294967296.0))
          .withColumn("y", col("value") >= 50.0),
        Seq("event_type"), "p", "y", bins = 10)),

    // ---- model eval: Brier score — calibration's scalar companion,
    //      exact decimal residual squares ----
    "q254_brier" -> ((s, dir) =>
      graft.agg.Stats.brierScore(
        t(s, dir, "events").filter(col("value").isNotNull)
          .withColumn("p",
            TA.md5i(concat(col("event_id").cast("string"), lit("cal")))
              .cast("double") / lit(4294967296.0))
          .withColumn("y", col("value") >= 50.0),
        Seq("event_type"), "p", "y")),

    // ---- join: nearest-direction as-of — align each view to the
    //      CLOSEST click of the same user, either direction ----
    "q255_asof_nearest" -> ((s, dir) => {
      val e = t(s, dir, "events").filter(col("user_id").isNotNull &&
        col("ts").isNotNull)
      graft.join.Joins.asOfNearest(
        e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id"), col("ts")),
        e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts")),
        Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("user_id"),
          col("asof_event_id"), col("asof_gap"))
    }),

    // ---- ML prep: smoothed target (mean) encoding of event_type
    //      against value — fit is an aggregation, transform a
    //      broadcast join ----
    "q256_target_encode" -> ((s, dir) =>
      graft.ops.Encode.targetEncode(t(s, dir, "events"),
        "event_type", "value", smoothing = 20.0)),

    // ---- ML prep: leave-one-out target encoding — the leakage-safe
    //      variant, one window pass instead of a join ----
    "q257_target_encode_loo" -> ((s, dir) =>
      graft.ops.Encode.targetEncode(t(s, dir, "events"),
        "event_type", "value", smoothing = 20.0, leaveOneOut = true)),

    // ---- ML prep: deterministic label indexing — dense indexes by
    //      (frequency DESC, value ASC), a total order ----
    "q258_index_encode" -> ((s, dir) =>
      graft.ops.Encode.indexEncode(t(s, dir, "documents"), "lang")),

    // ---- finance/metrics: hourly OHLC + VWAP candles of event
    //      values per type — one map-side-combined aggregation ----
    "q259_ohlc" -> ((s, dir) =>
      graft.ops.TimeSeries.ohlc(
        t(s, dir, "events")
          .filter(col("value") > 0 && col("user_id").isNotNull)
          .withColumn("vol", (col("user_id") % 5 + 1).cast("double")),
        Seq("event_type"), "ts", "event_id", "value", "vol",
        bucket = "day")),

    // ---- warehouse: incremental aggregate maintenance — two half
    //      states merged must equal the from-scratch aggregate ----
    "q260_incremental_agg" -> ((s, dir) => {
      import graft.ops.Incremental
      val li = t(s, dir, "lineitem")
      val ms = Seq(Incremental.Measure("l_quantity"),
        Incremental.Measure("l_extendedprice"))
      val even = Incremental.aggState(
        li.filter(col("l_orderkey") % 2 === 0), Seq("l_returnflag"), ms)
      val odd = Incremental.aggState(
        li.filter(col("l_orderkey") % 2 === 1), Seq("l_returnflag"), ms)
      Incremental.finish(
        Incremental.mergeStates(even, odd, Seq("l_returnflag"), ms),
        Seq("l_returnflag"), ms)
    }),

    // ---- spatial: grid-bucketed radius self-join over hash-planted
    //      integer coordinates — exact d² ≤ r², no cross join ----
    "q261_radius_join" -> ((s, dir) => {
      val pts = t(s, dir, "customer").select(
        col("c_custkey"),
        pmod(TA.md5i(concat(col("c_custkey").cast("string"), lit("x"))),
          lit(1000000L)).as("x"),
        pmod(TA.md5i(concat(col("c_custkey").cast("string"), lit("y"))),
          lit(1000000L)).as("y"))
      graft.join.Spatial.radiusJoin(
        pts.select(col("c_custkey").as("src_id"), col("x"), col("y")),
        pts.select(col("c_custkey").as("dst_id"), col("x"), col("y")),
        "src_id", "x", "y", "dst_id", "x", "y", radius = 25000L)
        .filter(col("src_id") < col("dst_id"))
    }),

    // ---- CDC round trip: diff a mutated snapshot against the base,
    //      APPLY the feed back — apply ∘ changes must be the identity
    //      (the batch MERGE-INTO contract, checked end to end) ----
    "q262_cdc_apply" -> ((s, dir) => {
      val prev = t(s, dir, "customer")
      val mutated = prev.filter(col("c_custkey") % 11 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + 10.0)
            .otherwise(col("c_acctbal")))
      val inserts = prev.filter(col("c_custkey") % 13 === 0)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
      val current = mutated.unionByName(inserts)
      val feed = graft.cdc.CDC.changes(current, prev, Seq("c_custkey"),
        compareFields = Seq("c_acctbal"), changeTimestamp = None)
      graft.cdc.CDC.applyChanges(prev, feed, Seq("c_custkey"))
    }),

    // ---- observability: data-quality counters observed DURING a
    //      write (CollectMetrics — zero extra passes) ----
    "q263_observe" -> ((s, dir) =>
      graft.ops.Observe.observed(s, t(s, dir, "events"),
        graft.ops.Observe.counters("value"))(
        _.write.format("noop").mode("overwrite").save())
        .withColumn("sum_value", col("sum_value").cast("double"))),

    // ---- privacy: ε-DP counts with seed-deterministic Laplace
    //      noise — reproducible releases, engine-exact ----
    "q264_dp_counts" -> ((s, dir) =>
      graft.quality.Privacy.dpCounts(t(s, dir, "events"),
        Seq("event_type"), epsilon = 0.5, seed = "dp1")),

    // ---- ops analytics: log-template mining — synthesized log lines
    //      collapse to per-event-type templates (digit/hex masking
    //      erases the variable fragments) ----
    "q265_log_templates" -> ((s, dir) =>
      TA.logTemplates(
        t(s, dir, "events").filter(col("user_id").isNotNull &&
          col("value").isNotNull)
          .withColumn("msg", concat(col("event_type"), lit(" user="),
            col("user_id").cast("string"), lit(" val="),
            col("value").cast("string"), lit(" "),
            coalesce(col("props"), lit("{}")))),
        "event_id", "msg")),

    // ---- flagship composition: the training-data prep pipeline as
    //      ONE lazy plan — quality gate (exact integer thresholds) →
    //      exact dedup (min doc id survives) → 64/16 token chunks;
    //      every stage is an already-gated operator ----
    "q266_pipeline_e2e" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val profiled = TA.scriptProfile(docs, "doc_id", "text")
        .select(col("doc_id"), col("len"), col("n_alpha"))
      val kept = docs.join(profiled, Seq("doc_id"))
        .withColumn("n_words", size(TA.cleanTokens(col("text"))))
        .filter(col("n_words") >= 20 && col("n_words") <= 2000 &&
          col("len") > 0 && col("n_alpha") * 2L > col("len"))
      val deduped = graft.llm.Dedup.exact(
        kept.select(col("doc_id"), col("text")), Seq("text"), "doc_id")
      graft.llm.Chunking.chunkByTokens(deduped, "doc_id", "text",
        chunkTokens = 64, overlapTokens = 16)
    }),

    // ---- A/B metrics: ratio-of-sums (price per unit) with a
    //      delta-method CI — five exact decimal moments, integer-
    //      snapped (money magnitudes), one pinned closing chain ----
    "q267_ratio_metric" -> ((s, dir) =>
      graft.agg.Stats.ratioOfSums(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice", "l_quantity",
        momentSnapScale = 0)),

    // ---- robust aggregation: quantity-weighted median price per
    //      flag — the exact lower weighted median, all integer ----
    "q268_weighted_median" -> ((s, dir) =>
      graft.agg.GroupBy.weightedMedian(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice", "l_quantity")),

    // ---- ML eval: split-conformal calibration quantile — the exact
    //      ⌈(n+1)(1−α)⌉-th order statistic of the nonconformity
    //      score, the coverage-guarantee q̂ ----
    "q269_conformal" -> ((s, dir) =>
      graft.agg.Stats.conformalQuantile(
        t(s, dir, "events").filter(col("value").isNotNull)
          .withColumn("score", abs(col("value") - 50.0)),
        Seq("event_type"), "score", "event_id", alpha = 0.1)),

    // ---- ML eval: ROC AUC by the exact rank-sum identity — integer
    //      midranks over the (status, quantity) grid, one closing
    //      division; quantity's massive ties exercise the midrank ----
    "q270_roc_auc" -> ((s, dir) =>
      graft.agg.Stats.rocAuc(
        t(s, dir, "lineitem")
          .withColumn("is_ret", col("l_returnflag") === "R"),
        Seq("l_linestatus"), "l_quantity", "is_ret")),

    // ---- ML eval: cumulative-gains / lift deciles per priority —
    //      exact integer bucket cut, unique-orderkey tie-break ----
    // ---- ML eval: Qini / uplift curve — liftTable's exact cut
    //      with treated/control cumulative incremental responders ----
    "q404_qini_curve" -> ((s, dir) =>
      graft.agg.Stats.qiniCurve(
        t(s, dir, "orders")
          .withColumn("treated", pmod(col("o_orderkey"), lit(2L)) === 0L)
          .withColumn("is_f", col("o_orderstatus") === "F"),
        Seq("o_orderpriority"), "o_totalprice", "o_orderkey",
        "treated", "is_f", buckets = 10)),

    "q271_lift_table" -> ((s, dir) =>
      graft.agg.Stats.liftTable(
        t(s, dir, "orders")
          .withColumn("is_f", col("o_orderstatus") === "F"),
        Seq("o_orderpriority"), "o_totalprice", "is_f", "o_orderkey",
        buckets = 10)),

    // ---- stats: Cramér's V priority↔status per order-year —
    //      exact contingency counts (full r×c grid incl. structural
    //      zeros), order-pinned χ² fold ----
    // ---- stats: G-test (Dunning's G^2 log-likelihood ratio) —
    //      cramersV's grid with 2*o*ln(o/e) terms ----
    "q405_g_test" -> ((s, dir) =>
      graft.agg.Stats.gTest(
        t(s, dir, "orders")
          .withColumn("o_year", year(col("o_orderdate"))
            .cast("long")),
        Seq("o_year"), "o_orderpriority", "o_orderstatus")),

    // ---- time series: STL-lite additive decomposition per event
    //      type — even period 4 exercises the 2×p half-weight MA;
    //      seasonal = n-weighted-centered phase means of the exact
    //      detrended grid ----
    "q406_stl_decompose" -> ((s, dir) =>
      graft.ops.TimeSeries.stlDecompose(t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value", period = 4)),

    // ---- quality: declarative expectation-suite runner — the
    //      validator's rule table as DATA, one aggregation pass,
    //      per-expectation typed report ----
    "q407_expectations" -> ((s, dir) => {
      import graft.quality.Quality.Expectation
      graft.quality.Quality.expectations(t(s, dir, "events"), Seq(
        Expectation("event ids unique", "unique", "event_id"),
        Expectation("ts set", "not_null", "ts"),
        Expectation("value range", "between", "value",
          lo = Some(0.0), hi = Some(150.0), maxViolationRate = 0.5),
        Expectation("types in vocab", "in_set", "event_type",
          values = Seq("view", "click", "purchase", "signup")),
        Expectation("type shape", "matches", "event_type",
          values = Seq("^[a-z_]+$")),
        Expectation("rows", "row_count_between", lo = Some(1.0)),
        Expectation("user cardinality", "distinct_count_between",
          "user_id", lo = Some(1.0), hi = Some(20000.0)),
        Expectation("mean value", "mean_between", "value",
          lo = Some(0.0), hi = Some(1000.0)),
        Expectation("props exists", "exists", "props")))
    }),

    // ---- quality: the expectation suite PER SEGMENT — one report
    //      row per (event_type, expectation), fully distributed ----
    "q408_expectations_by_key" -> ((s, dir) => {
      import graft.quality.Quality.Expectation
      graft.quality.Quality.expectationsByKey(t(s, dir, "events"),
        Seq("event_type"), Seq(
          Expectation("event ids unique", "unique", "event_id"),
          Expectation("ts set", "not_null", "ts"),
          Expectation("value range", "between", "value",
            lo = Some(0.0), hi = Some(150.0), maxViolationRate = 0.5),
          Expectation("segment size", "row_count_between",
            lo = Some(100.0)),
          Expectation("user cardinality", "distinct_count_between",
            "user_id", lo = Some(1.0), hi = Some(20000.0)),
          Expectation("mean value", "mean_between", "value",
            lo = Some(0.0), hi = Some(1000.0))))
    }),

    // ---- plan lint as a SESSION LISTENER — install once, every
    //      action's EXECUTED (AQE-final) plan linted with no call
    //      sites; report = one row per action x rule ----
    "q411_lint_listener" -> ((s, dir) => {
      val lint = graft.core.PlanLint.install(s)
      try {
        // action 0: clean keyed aggregation — all rules ok
        t(s, dir, "events").groupBy(col("event_type")).count()
          .count(): Unit
        // action 1: global row_number — the single-partition sort
        // the lint exists to catch
        t(s, dir, "events")
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("event_id"))))
          .filter(col("rn") <= 5L).count(): Unit
      } finally {
        // the listener bus is async — drain before reading
        org.apache.spark.graft.BenchInternals
          .drainListenerBus(s.sparkContext)
        lint.close()
      }
      lint.report().select("action", "func", "rule", "status", "n")
    }),

    // ---- quality: SUGGEST an expectation suite from the data —
    //      the profile → suite → evaluate onboarding loop; suite
    //      rows are data (expectationsFrom's input schema) ----
    "q410_suggest_expectations" -> ((s, dir) =>
      graft.quality.Quality.suggestExpectations(t(s, dir, "orders"))
        .select(col("name"), col("kind"), col("column"),
          col("lo"), col("hi"),
          array_join(col("values"), ",").as("values_csv"),
          col("max_violation_rate"))),

    "q272_cramers_v" -> ((s, dir) =>
      graft.agg.Stats.cramersV(
        t(s, dir, "orders")
          .withColumn("o_year", year(col("o_orderdate")).cast("long")),
        Seq("o_year"), "o_orderpriority", "o_orderstatus")),

    // ---- integrity: order-independent table fingerprint — MD5 row
    //      digests reduced by XOR + modular sum + extremes ----
    "q273_fingerprint" -> ((s, dir) =>
      graft.quality.Quality.tableFingerprint(t(s, dir, "lineitem"),
        Seq("l_returnflag"),
        Seq("l_orderkey", "l_linenumber", "l_linestatus"))),

    // ---- time series: hourly grid with LINEAR interpolation across
    //      gaps (q126's numeric sibling) — grid-index lerp, one key
    //      exchange serves both directional windows ----
    "q275_interp" -> ((s, dir) =>
      graft.ops.TimeSeries.interpolateAt(t(s, dir, "events"),
        Seq("user_id"), "ts", "value", "hour")),

    // ---- customer analytics: RFM scores per nation cohort — exact
    //      equal-frequency cuts, custkey tie-break total order ----
    "q276_rfm" -> ((s, dir) =>
      graft.ops.Segmentation.rfmScores(
        t(s, dir, "orders").join(
          t(s, dir, "customer").select(col("c_custkey"),
            col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
          .withColumn("nation", col("c_nationkey").cast("long")),
        Seq("nation"), "o_custkey", "o_orderdate", "o_totalprice")),

    // ---- reporting: top-5 customers per priority + exact OTHER
    //      rollup — tail mass kept, not dropped ----
    "q277_topk_other" -> ((s, dir) =>
      graft.agg.GroupBy.topKOther(t(s, dir, "orders"),
        Seq("o_orderpriority"), "o_custkey", "o_totalprice", k = 5)),

    // ---- ML prep: exact Gini decision-stump split per status —
    //      transcendental-free closing over exact counts ----
    "q278_best_split" -> ((s, dir) =>
      graft.agg.Stats.bestSplit(
        t(s, dir, "lineitem")
          .withColumn("is_ret", col("l_returnflag") === "R"),
        Seq("l_linestatus"), "l_quantity", "is_ret")),

    // ---- ML prep: target-leakage scan — per-feature Cramér's V vs
    //      returnflag in ONE melted pass; continuous features
    //      pre-formatted to the decimal grid ----
    "q279_leakage_scan" -> ((s, dir) =>
      graft.agg.Stats.leakageScan(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_linestatus").as("linestatus"),
          col("l_quantity").cast("decimal(18,2)").cast("string")
            .as("quantity"),
          col("l_discount").cast("decimal(18,2)").cast("string")
            .as("discount"),
          col("l_tax").cast("decimal(18,2)").cast("string").as("tax")),
        Seq("linestatus", "quantity", "discount", "tax"),
        "l_returnflag")),

    // ---- funnel analytics: exact median conversion latency per
    //      adjacent step pair — funnel + unit-weight median ----
    "q280_funnel_latency" -> ((s, dir) =>
      graft.ops.TimeSeries.funnelLatency(t(s, dir, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))),

    // ---- SPC: per-user one-sided CUSUM change-point statistic —
    //      the max(0, S+(x−μ₀−k)) recurrence as two LINEAR windows
    //      via S = P − min(prefix P) ----
    "q281_cusum" -> ((s, dir) =>
      graft.ops.TimeSeries.cusum(t(s, dir, "events"),
        Seq("user_id"), "ts", "event_id", "value",
        target = 50.0, slack = 0.0, threshold = 100.0)
        .select(col("user_id"), col("event_id"), col("value"),
          col("cusum"), col("alarm"))),

    // ---- ML prep: deterministic stratified k-fold assignment —
    //      exact class balance, reproducible without an assignment
    //      table ----
    "q282_kfold" -> ((s, dir) =>
      graft.ops.Encode.kFoldAssign(t(s, dir, "orders"),
        Seq("o_orderpriority"), "o_orderkey", k = 5)
        .select(col("o_orderkey"), col("o_orderpriority"), col("fold"))),

    // ---- join: interval-OVERLAP equi-binned self-join — which line
    //      items of the same order were in transit simultaneously
    //      (ship→receipt windows overlapping), each pair once ----
    "q283_overlap_join" -> ((s, dir) => {
      // in-transit window: ship date + quantity days (the schema has
      // no receipt date; quantity is integral, so the cast is exact)
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate").isNotNull &&
          col("l_quantity").isNotNull)
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("lid"),
          unix_date(col("l_shipdate").cast("date")).cast("long").as("lo"),
          (unix_date(col("l_shipdate").cast("date")).cast("long") +
            col("l_quantity").cast("long")).as("hi"))
      graft.join.Joins.overlapJoin(l, l, Seq("l_orderkey"),
          "lo", "hi", binWidth = 7.0)
        .filter(col("lid") < col("r_lid"))
    }),

    // ---- ops diagnostics: key-skew profile — top-k heavy values
    //      per candidate join/groupBy key with exact shares ----
    "q284_skew_profile" -> ((s, dir) =>
      Quality.skewProfile(t(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_suppkey"), k = 10)),

    // ---- harmonization: quantile normalization across event-type
    //      slices — every slice forced onto the cross-slice
    //      reference distribution, internal ranking preserved ----
    "q285_quantile_normalize" -> ((s, dir) =>
      graft.ops.Encode.rankMeanNormalize(t(s, dir, "events"),
        "event_type", "value", "event_id")
        .select(col("event_id"), col("event_type"), col("value"),
          col("value_qn"))),

    // ---- ML: per-flag 2-feature ridge regression closed-form from
    //      nine exact decimal moments — price ~ quantity + discount ----
    "q286_ridge2" -> ((s, dir) =>
      graft.agg.Stats.ridgeFit2(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice", "l_quantity",
        "l_discount", lambda = 1000.0)),

    // ---- ML: closed-form 2-variable PCA per flag — exact algebraic
    //      2×2 eigendecomposition, one aggregation pass ----
    "q287_pca2" -> ((s, dir) =>
      graft.agg.Stats.pca2(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_quantity", "l_extendedprice")),

    // ---- robust stats: per-type median/MAD outlier scores — the
    //      z-score that one wild point cannot poison ----
    "q289_robust_z" -> ((s, dir) =>
      graft.agg.Stats.robustZScores(
        t(s, dir, "events").select("event_id", "event_type", "value"),
        Seq("event_type"), "value")
        .select(col("event_id"), col("event_type"), col("value"),
          col("median"), col("mad"), col("score"))),

    // ---- time series: rolling OLS trend per user — five linear
    //      moment frames on one exchange, never per-row refits ----
    "q290_rolling_slope" -> ((s, dir) =>
      graft.ops.TimeSeries.rollingSlope(t(s, dir, "events"),
        Seq("user_id"), "ts", "event_id", "value", window = 10)
        .select(col("user_id"), col("event_id"), col("value"),
          col("slope"))),

    // ---- analytics: cumulative distinct event types per user —
    //      first-seen flag + running sum, both linear windows ----
    "q291_running_distinct" -> ((s, dir) =>
      graft.agg.GroupBy.runningDistinct(t(s, dir, "events"),
        Seq("user_id"), "ts", "event_id", "event_type")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("distinct_so_far"))),

    // ---- funnel: gap-constrained conversion chain — click within
    //      an hour of a view, purchase within an hour of that ----
    "q292_funnel_within" -> ((s, dir) =>
      graft.ops.TimeSeries.funnelWithin(t(s, dir, "events"),
        "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), maxGapSeconds = 3600)),

    // ---- streaming: incremental CUSUM — two exact integer-cent
    //      longs per key; batch ≡ stream on any feed chunking ----
    "q288_stream_cusum" -> ((s, dir) => {
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
    }),

    // ---- SPC: lower-sided CUSUM mirror — sustained DOWNWARD mean
    //      shift, same two-linear-window prefix-sum identity ----
    "q295_cusum_lower" -> ((s, dir) =>
      graft.ops.TimeSeries.cusumLower(t(s, dir, "events"),
        Seq("user_id"), "ts", "event_id", "value",
        target = 50.0, slack = 0.0, threshold = 100.0)
        .select(col("user_id"), col("event_id"), col("value"),
          col("cusum"), col("alarm"))),

    // ---- time series: autocorrelation per event type, lags 1..5 —
    //      one window pass, stack melt, one (key, lag) collapse ----
    "q293_acf" -> ((s, dir) =>
      graft.agg.Stats.acf(t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value", maxLag = 5)
        .select(col("event_type"), col("lag"), col("n"), col("corr"))),

    // ---- embedding QA: per-dimension Fisher class-separation
    //      profile — which dims carry the label ----
    "q294_class_separation" -> ((s, dir) =>
      graft.llm.Similarity.classSeparation(
        t(s, dir, "embeddings")
          .withColumn("label", (col("vec_id") % 5).cast("int")),
        "embedding", "label")),

    // ---- product analytics: top-k sessionized event-type journeys
    //      ("view > click > purchase") — the Sankey feed ----
    "q296_top_paths" -> ((s, dir) =>
      graft.ops.TimeSeries.topPaths(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type",
        gapSeconds = 1800L, maxLen = 5, k = 20)),

    // ---- growth analytics: generic cohort-LTV curve at hour grain —
    //      cohort stamp, (cohort, age) grid, cumulative revenue per
    //      acquired user ----
    "q297_cohort_ltv_hourly" -> ((s, dir) =>
      graft.ops.TimeSeries.cohortLtv(t(s, dir, "events"),
        "user_id", "ts", "value", unit = "hour")
        .select(unix_micros(col("cohort")).as("cohort_us"), col("age"),
          col("n_active"), col("revenue"), col("cum_revenue"),
          col("cohort_size"), col("ltv"))),

    // ---- retrieval eval: MAP@10 of the LSH ranking vs brute-force —
    //      binary relevance, precision-weighted, hits-early wins ----
    "q298_map" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
        k = 10)
      val approx = Similarity.lshTopK(e, qs, "vec_id", "embedding",
        k = 10, bits = 6)
      Similarity.mapAtK(approx, exact, "query_id", "neighbor_id",
        "rank", k = 10)
    }),

    // ---- retention: Nelson-Aalen cumulative hazard per signup-month
    //      cohort — the counting-process companion to q218's KM ----
    "q299_nelson_aalen" -> ((s, dir) => {
      val per = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("first_d"),
          max(to_date(col("ts"))).as("last_d"))
        .localCheckpoint(false)
      val mx = per.agg(max(col("last_d")).as("__mx"))
      val subj = per.crossJoin(broadcast(mx))
        .withColumn("duration",
          datediff(col("last_d"), col("first_d")).cast("long"))
        .withColumn("observed", datediff(col("__mx"), col("last_d")) >= 7)
        .withColumn("cohort", date_trunc("month", col("first_d")).cast("date"))
      graft.ops.Survival.nelsonAalen(subj, Seq("cohort"),
        "duration", "observed")
    }),

    // ---- time series: cross-correlation of event value vs payload
    //      size at lags −3..3 per type — does one series lead the
    //      other (events: the one table with a UNIQUE tie column;
    //      synthetic lineitem has duplicate (orderkey, linenumber)
    //      pairs, so no total order exists there) ----
    "q300_ccf" -> ((s, dir) =>
      graft.agg.Stats.ccf(t(s, dir, "events")
          .withColumn("psize", length(col("props"))),
        Seq("event_type"), "ts", "event_id",
        "value", "psize", maxLag = 3)),

    // ---- finance/ops: hourly TWAP per event type — holding-time-
    //      weighted average, the fair mean for irregular ticks ----
    "q301_twap" -> ((s, dir) =>
      graft.ops.TimeSeries.twap(t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value", unit = "hour")
        .select(col("event_type"), unix_micros(col("bucket")).as("bucket_us"),
          col("n_ticks"), col("twap"))),

    // ---- data quality: null-pattern co-occurrence histogram — which
    //      fields go missing TOGETHER ----
    "q302_missingness" -> ((s, dir) =>
      Quality.missingnessPatterns(t(s, dir, "events"),
        Seq("user_id", "event_type", "value", "props"))),

    // ---- ML eval: expected calibration error — q253's reliability
    //      diagram collapsed to its one-number summary ----
    "q303_ece" -> ((s, dir) =>
      graft.agg.Stats.ece(
        t(s, dir, "events").filter(col("value").isNotNull)
          .withColumn("p",
            TA.md5i(concat(col("event_id").cast("string"), lit("cal")))
              .cast("double") / lit(4294967296.0))
          .withColumn("y", col("value") >= 50.0),
        Seq("event_type"), "p", "y", bins = 10)),

    // ---- privacy: l-diversity audit — QI classes whose sensitive
    //      column has too few distinct values (k-anonymous ≠ safe) ----
    "q304_l_diversity" -> ((s, dir) =>
      Quality.lDiversity(t(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), "c_acctbal", l = 10)),

    // ---- robust stats: 10% trimmed mean per event type — exact
    //      integer rank-interval arithmetic on the value grid ----
    "q305_trimmed_mean" -> ((s, dir) =>
      graft.agg.Stats.trimmedMean(t(s, dir, "events"),
        Seq("event_type"), "value", trimFrac = 0.1)),

    // ---- feature audit: pairwise mutual-information matrix over
    //      (lang, source, length-bin) — which columns are redundant ----
    "q306_mi_matrix" -> ((s, dir) =>
      graft.agg.Stats.mutualInfoMatrix(
        t(s, dir, "documents").withColumn("len_bin",
          floor(length(col("text")) / 500).cast("long")),
        Seq("lang", "source", "len_bin"))),

    // ---- time series: partial autocorrelation (Durbin-Levinson as
    //      ONE higher-order fold per key over the acf grid) ----
    "q307_pacf" -> ((s, dir) =>
      graft.agg.Stats.pacf(t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value", maxLag = 5)),

    // ---- streaming TWAP: six-long exact integer state per user;
    //      closed hourly buckets emit once and match batch twap ----
    "q309_stream_twap" -> ((s, dir) => {
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
    }),

    // ---- ML eval: average precision (AUC-PR) — the threshold-step
    //      area, heavy score ties exercising the step fold ----
    "q310_avg_precision" -> ((s, dir) =>
      graft.agg.Stats.averagePrecision(
        t(s, dir, "lineitem")
          .withColumn("is_ret", col("l_returnflag") === "R"),
        Seq("l_linestatus"), "l_quantity", "is_ret")),

    // ---- robust stats: 10% winsorized mean per event type — clamp
    //      to the boundary order statistics, mean over all n ----
    "q311_winsorized_mean" -> ((s, dir) =>
      graft.agg.Stats.winsorizedMean(t(s, dir, "events"),
        Seq("event_type"), "value", winsorFrac = 0.1)),

    // ---- inequality: Theil index per event type — entropy-based,
    //      decomposable; exact grid + pinned log terms ----
    "q312_theil" -> ((s, dir) =>
      graft.agg.Stats.theilIndex(t(s, dir, "events"),
        Seq("event_type"), "value")),

    // ---- inequality: Hoover (Robin Hood) index — fully integer-
    //      exact, the mass share that must move to equalize ----
    "q313_hoover" -> ((s, dir) =>
      graft.agg.Stats.hooverIndex(t(s, dir, "events"),
        Seq("event_type"), "value")),

    // ---- concentration: supplier HHI + CR4 per return flag —
    //      revenue dominance diagnostics ----
    "q314_hhi" -> ((s, dir) =>
      graft.agg.Stats.hhi(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_suppkey", "l_extendedprice")),

    // ---- changepoint: best single mean-shift split per type —
    //      max between-group SS from prefix sums, earliest tie ----
    "q315_best_mean_split" -> ((s, dir) =>
      graft.ops.TimeSeries.bestMeanSplit(t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value")
        .select(col("event_type"), col("n"), col("split_index"),
          unix_micros(col("split_ts")).as("split_ts_us"), col("gain"))),

    // ---- sequential testing: Wald SPRT replay per type — exact
    //      decimal LLR walk, earliest boundary crossing ----
    "q316_sprt" -> ((s, dir) =>
      graft.agg.Stats.sprt(
        t(s, dir, "events").withColumn("y", col("value") >= 50.0),
        Seq("event_type"), "ts", "event_id", "y",
        p0 = 0.4, p1 = 0.6, alpha = 0.05, beta = 0.2)),

    // ---- uncertainty: deterministic Poisson-bootstrap mean CI —
    //      hash-derived resample weights, zero RNG, replayable.
    //      Purchase slice × b=100: the resample work is O(rows·b·md5)
    //      BY DESIGN (b is the documented cost dial) — the full-corpus
    //      b=200 gate cost 33 s at sf0.1, all hashing ----
    "q317_bootstrap_ci" -> ((s, dir) =>
      graft.agg.Stats.bootstrapMeanCi(
        t(s, dir, "events").filter(col("event_type") === "purchase")
          .withColumn("etype", col("event_type")),
        Seq("etype"), "event_id", "value", b = 100)),

    // ---- spatial: grid-density clustering (DBSCAN-lite) over the
    //      q261 hash-planted coordinates — dense cells merge via
    //      8-adjacency components, sparse points are noise ----
    "q319_grid_clusters" -> ((s, dir) => {
      val pts = t(s, dir, "customer").select(
        col("c_custkey"),
        pmod(TA.md5i(concat(col("c_custkey").cast("string"), lit("x"))),
          lit(1000000L)).as("x"),
        pmod(TA.md5i(concat(col("c_custkey").cast("string"), lit("y"))),
          lit(1000000L)).as("y"))
      graft.join.Spatial.gridClusters(pts, "c_custkey", "x", "y",
        cellSize = 50000L, minPts = 6L)
    }),

    // ---- A/B stats: CUPED variance-adjusted variant means — pooled
    //      θ from exact moments, per-variant pinned adjustment ----
    "q320_cuped" -> ((s, dir) =>
      graft.agg.Stats.cuped(t(s, dir, "events")
          .withColumn("variant", (col("user_id") % 2).cast("int"))
          .withColumn("psize", length(col("props"))),
        Seq("event_type"), "variant", "value", "psize")),

    // ---- causal: difference-in-differences 2×2 contrast from exact
    //      cell sums — treated × post pinned double difference ----
    "q321_did" -> ((s, dir) =>
      graft.agg.Stats.diffInDiff(t(s, dir, "events")
          .withColumn("treated", col("user_id") % 2 === 0)
          .withColumn("post", hour(col("ts")) >= 12),
        Seq("event_type"), "treated", "post", "value")),

    // ---- ML eval: binary classification report — confusion matrix
    //      and ratios from exact counts ----
    "q322_classification_report" -> ((s, dir) =>
      graft.agg.Stats.classificationReport(
        t(s, dir, "events").filter(col("value").isNotNull)
          .withColumn("y", col("value") >= 50.0)
          .withColumn("pred",
            TA.md5i(concat(col("event_id").cast("string"), lit("cal")))
              .cast("double") / lit(4294967296.0) >= 0.45),
        Seq("event_type"), "y", "pred")),

    // ---- risk stats: odds ratio + relative risk with the Wald
    //      ln(OR) CI — exact 2×2 cells, pinned closings ----
    "q323_odds_ratio" -> ((s, dir) =>
      graft.agg.Stats.oddsRatio(
        t(s, dir, "events")
          .withColumn("exposed", col("user_id") % 2 === 0)
          .withColumn("outcome", col("value") >= 50.0),
        Seq("event_type"), "exposed", "outcome")),

    // ---- experimentation: McNemar paired test — per-subject max
    //      outcomes under two conditions, discordant-cell χ² ----
    "q348_mcnemar" -> ((s, dir) =>
      graft.agg.Stats.mcnemar(
        t(s, dir, "events")
          .withColumn("cohort", pmod(col("user_id"), lit(4L)))
          .withColumn("hit", col("value") >= 110.0),
        Seq("cohort"), "user_id", "event_type", "click", "view",
        "hit")),

    // ---- streaming: Holt keyed state — (n, level, trend), batch ≡
    //      stream, the 14th streaming state operator ----
    "q376_stream_holt" -> ((s, dir) => {
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
    }),

    // ---- plan lint: the internal PlanGuardSpec predicates as a
    //      user-facing 100×-readiness report; the linted plan is
    //      BUILT BAD on purpose (cartesian + global window + global
    //      sort + merge-hinted tiny join + udf + unpushable filter)
    //      so the gate pins which rules fire and which stay ok ----
    "q377_plan_lint" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nation = t(s, dir, "nation")
        .filter(length(col("n_name")) > lit(3))
      val region = t(s, dir, "region")
      val pair = nation.hint("shuffle_replicate_nl").crossJoin(region)
      val orders = t(s, dir, "orders")
      val up = udf((x: String) => if (x == null) null else x.toUpperCase)
      val bad = orders
        .join(pair.hint("merge"),
          pmod(col("o_custkey"), lit(25L)) === col("n_nationkey"))
        .withColumn("u", up(col("o_orderpriority")))
        .withColumn("rk",
          row_number().over(Window.orderBy(col("o_orderkey"))))
        .orderBy(col("rk"))
      graft.core.PlanLint.lint(bad).select("rule", "status", "n")
    }),

    // ---- drift: two-sample Anderson-Darling (Scholz-Stephens
    //      midrank, k = 2) — the tail-weighted drift panel member;
    //      doubled midranks, one exact-integer ratio per (row, arm) ----
    "q409_anderson_darling" -> ((s, dir) =>
      graft.agg.Stats.andersonDarling(
        t(s, dir, "events")
          // null user_id drops BEFORE arm derivation — the oracle
          // filters user_id IS NOT NULL, and otherwise("b") would
          // silently bucket nulls into arm b if the fixture ever
          // gained them (r18 advice)
          .filter(col("user_id").isNotNull)
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value")),

    // ---- drift: the WHOLE five-member panel (KS, CvM, AD, Kuiper,
    //      W1) in ONE scan — shared grid, one key exchange; each
    //      closing is the single operator's exact expression ----
    "q412_drift_panel" -> ((s, dir) =>
      graft.agg.Stats.driftPanel(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value")),

    // ---- A/B: the WHOLE rank-test location panel (MWU z, Cliff's
    //      delta, Brunner-Munzel W/df/p̂) in ONE scan — shared
    //      doubled-midrank grid, one key exchange ----
    "q413_rank_panel" -> ((s, dir) =>
      graft.agg.Stats.rankPanel(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value")),

    // ---- drift: 1-Wasserstein distance between arms — exact
    //      integer area between CDFs on the cents grid ----
    "q378_wasserstein1" -> ((s, dir) =>
      graft.agg.Stats.wasserstein1(
        t(s, dir, "events")
          // same null contract as the oracle's user_id IS NOT NULL
          .filter(col("user_id").isNotNull)
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value")),

    // ---- agreement: Kendall's W concordance over rater panels —
    //      friedman's doubled-rank grid, tie-corrected closing ----
    "q379_kendalls_w" -> ((s, dir) =>
      graft.agg.Stats.kendallsW(
        t(s, dir, "events")
          .withColumn("panel", pmod(col("user_id"), lit(3L)))
          .withColumn("rater", pmod(col("user_id"), lit(7L))),
        Seq("panel"), "rater", "event_type", "value")),

    // ---- multiple testing: Holm-Bonferroni step-down FWER (the
    //      q213 BH fixture with the step-down running max) ----
    "q380_holm_bonferroni" -> ((s, dir) => {
      val u = TA.md5i(concat(col("doc_id").cast("string"), lit("hb1")))
        .cast("double") / lit(4294967296.0)
      graft.agg.Stats.holmBonferroni(
        t(s, dir, "documents").select(col("doc_id"), col("lang"))
          .withColumn("p", u * u),
        Seq("lang"), "doc_id", "p", alpha = 0.3)
        .select("lang", "doc_id", "p", "rank", "p_adj", "significant")
    }),

    // ---- effect size: Cohen's h for two proportions — arcsine
    //      scale, 1e-9-snapped transcendentals ----
    "q381_cohens_h" -> ((s, dir) =>
      graft.agg.Stats.cohensH(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b")))
          .withColumn("hit", col("value") >= 150.0),
        Seq("event_type"), "arm", "a", "b", "hit")),

    // ---- epidemiology: risk ratio / risk difference / NNT with
    //      Wald CIs — the absolute-scale 2x2 panel ----
    "q382_risk_ratio" -> ((s, dir) =>
      graft.agg.Stats.riskRatio(
        t(s, dir, "events")
          .withColumn("exposed", pmod(col("user_id"), lit(2L)) === 0L)
          .withColumn("outcome", col("value") >= 150.0),
        Seq("event_type"), "exposed", "outcome")),

    // ---- inequality: Atkinson index at eps = 1/2 — grid-fold of
    //      c*sqrt(v), pinned closed-form closing ----
    "q383_atkinson" -> ((s, dir) =>
      graft.agg.Stats.atkinson(t(s, dir, "events"),
        Seq("event_type"), "value")),

    // ---- drift: two-sample Cramer-von Mises — tripled integer
    //      midrank polynomial on the pooled grid ----
    "q384_cramer_von_mises" -> ((s, dir) =>
      graft.agg.Stats.cramerVonMises(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value")),

    // ---- drift: Kuiper V — both CDF gap directions on the exact
    //      cross-multiplied lattice ----
    "q385_kuiper" -> ((s, dir) =>
      graft.agg.Stats.kuiper(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value")),

    // ---- drift: 1-D energy distance — exact CDF-integral pairwise
    //      expectations, order-free decimal sums ----
    "q386_energy_distance" -> ((s, dir) =>
      graft.agg.Stats.energyDistance(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value")),

    // ---- concentration: Lorenz curve deciles — liftTable's exact
    //      integer cut ascending, cumulative mass shares ----
    "q387_lorenz_curve" -> ((s, dir) =>
      graft.agg.Stats.lorenzCurve(t(s, dir, "events"),
        Seq("event_type"), "value")),

    // ---- forecasting: Theil's U1/U2 — exact cent sums of squares,
    //      naive-lag denominator, pinned sqrt chains ----
    "q388_theil_u" -> ((s, dir) =>
      graft.ops.TimeSeries.theilU(
        t(s, dir, "events")
          .withColumn("fc", col("value") +
            (pmod(col("event_id"), lit(5L)) - lit(2L)).cast("double")),
        Seq("event_type"), "ts", "event_id", "value", "fc")),

    // ---- forecasting: tracking signal — order-free signed/absolute
    //      error sums, the +-4 control-limit bias monitor ----
    "q389_tracking_signal" -> ((s, dir) =>
      graft.ops.TimeSeries.trackingSignal(
        t(s, dir, "events")
          .withColumn("fc", col("value") +
            (pmod(col("event_id"), lit(5L)) - lit(2L)).cast("double")),
        Seq("event_type"), "value", "fc")),

    // ---- survival: Gehan-Wilcoxon early-weighted two-group test —
    //      logRank's grid with n_t / n_t^2 weights in the fold ----
    "q390_gehan_wilcoxon" -> ((s, dir) =>
      graft.agg.Stats.gehanWilcoxon(
        t(s, dir, "events")
          .withColumn("grp", pmod(col("user_id"), lit(2L)) === 0L)
          .withColumn("observed", pmod(col("user_id"), lit(10L)) < 8L),
        Seq("event_type"), "grp", "value", "observed")),

    // ---- drift: tv / overlap / Bhattacharyya / Hellinger panel on
    //      the exact value grid ----
    "q391_distribution_distance" -> ((s, dir) =>
      graft.agg.Stats.distributionDistance(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value")),

    // ---- effect size: Hodges-Lehmann shift — grid x grid pairwise
    //      differences, exact weighted median (gate coarsens the
    //      value grid with floor(), per the operator's documented
    //      envelope: ~100 distinct units/arm -> 1e4 pairs/key
    //      instead of 4e7 at the raw cent grid) ----
    "q392_hodges_lehmann" -> ((s, dir) =>
      graft.agg.Stats.hodgesLehmann(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b")))
          .withColumn("vb", floor(col("value"))),
        Seq("event_type"), "arm", "a", "b", "vb")),

    // ---- survival: quartile read-off from the KM curve (q218's
    //      subject fixture; unreached thresholds stay null) ----
    "q393_survival_quantiles" -> ((s, dir) => {
      val per = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("first_d"),
          max(to_date(col("ts"))).as("last_d"))
        .localCheckpoint(false)
      val mx = per.agg(max(col("last_d")).as("__mx"))
      val subj = per.crossJoin(broadcast(mx))
        .withColumn("duration",
          datediff(col("last_d"), col("first_d")).cast("long"))
        .withColumn("observed", datediff(col("__mx"), col("last_d")) >= 7)
        .withColumn("cohort",
          date_trunc("month", col("first_d")).cast("date"))
      graft.ops.Survival.survivalQuantiles(subj, Seq("cohort"),
        "duration", "observed")
    }),

    // ---- stats: Quade test — range-weighted Friedman on the
    //      q349 fixture, quadrupled integer scores ----
    "q395_quade" -> ((s, dir) =>
      graft.agg.Stats.quade(
        t(s, dir, "events")
          .withColumn("blk", pmod(col("user_id"), lit(50L)))
          .withColumn("trt", pmod(col("event_id"), lit(3L))),
        Seq("event_type"), "blk", "trt", "value")),

    // ---- stats: Conover squared-ranks dispersion test — cross-
    //      scaled exact integer deviations, doubled rank scores ----
    "q396_conover_squared_ranks" -> ((s, dir) =>
      graft.agg.Stats.conoverSquaredRanks(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value")),

    // ---- stats: two-sample Poisson rate test — exact count and
    //      cent-exposure sums, Wald z + snapped log-ratio CI ----
    "q397_poisson_rate_test" -> ((s, dir) =>
      graft.agg.Stats.poissonRateTest(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b")))
          .withColumn("ev", pmod(col("event_id"), lit(7L))),
        Seq("event_type"), "arm", "a", "b", "ev", "value")),

    // ---- estimation: Chapman capture-recapture — two event-id-
    //      parity "captures" of the user population ----
    "q398_capture_recapture" -> ((s, dir) =>
      graft.agg.Stats.captureRecapture(
        t(s, dir, "events")
          .filter(col("event_id").isNotNull) // oracle null contract
          .withColumn("cap", when(pmod(col("event_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "cap", "a", "b", "user_id")),

    // ---- estimation: Chao1 richness + Good-Turing unseen mass
    //      over the per-type user "species" counts ----
    "q399_chao1" -> ((s, dir) =>
      graft.agg.Stats.chao1(t(s, dir, "events"),
        Seq("event_type"), "user_id")),

    // ---- stats: Brunner-Munzel — heteroscedastic rank test via
    //      doubled placement sums on the pooled grid ----
    "q400_brunner_munzel" -> ((s, dir) =>
      graft.agg.Stats.brunnerMunzel(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull) // oracle null contract
          .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L,
            lit("a")).otherwise(lit("b"))),
        Seq("event_type"), "arm", "a", "b", "value")),

    // ---- experimentation: two-proportion sample-size planning
    //      from the observed per-key baseline ----
    "q401_sample_size" -> ((s, dir) =>
      graft.agg.Stats.sampleSizeTwoProportions(
        t(s, dir, "events")
          .withColumn("hit", col("value") >= 150.0),
        Seq("event_type"), "hit", mde = 0.02)),

    // ---- sampling: deterministic bottom-k coordinated sample —
    //      the mergeable bottom-k sketch per key ----
    "q403_bottom_k" -> ((s, dir) =>
      graft.llm.Sampling.bottomKByHash(t(s, dir, "events"),
        Seq("event_type"), "event_id", k = 7)),

    // ---- streaming: bottom-k keyed state — the 16th streaming
    //      state operator; mergeable sketch, order-free parity ----
    "q402_stream_bottom_k" -> ((s, dir) => {
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
    }),

    // ---- streaming: tracking-signal keyed state — three integer-
    //      cent registers, the 15th streaming state operator ----
    "q394_stream_tracking_signal" -> ((s, dir) => {
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
    }),

    // ---- survival: restricted mean survival time — area under the
    //      KM curve to a 30-day horizon, time-order segment fold ----
    "q374_rmst" -> ((s, dir) => {
      val per = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("first_d"),
          max(to_date(col("ts"))).as("last_d"))
        .localCheckpoint(false)
      val mx = per.agg(max(col("last_d")).as("__mx"))
      val subj = per.crossJoin(broadcast(mx))
        .withColumn("duration",
          datediff(col("last_d"), col("first_d")).cast("long"))
        .withColumn("observed",
          datediff(col("__mx"), col("last_d")) >= 7)
        .withColumn("cohort",
          date_trunc("month", col("first_d")).cast("date"))
      graft.ops.Survival.rmst(subj, Seq("cohort"), "duration",
        "observed", tau = 30L)
    }),

    // ---- A/B stats: Cliff's delta — the Mann-Whitney effect size,
    //      one pinned closing over the exact half-integer U ----
    "q375_cliffs_delta" -> ((s, dir) =>
      graft.agg.Stats.cliffsDelta(
        t(s, dir, "events")
          .withColumn("cohort", pmod(col("user_id"), lit(4L))),
        Seq("cohort"), "event_type", "click", "view", "value")),

    // ---- stats: Fisher's exact test — mode-anchored ratio
    //      recurrence, no factorials, exact-tail p hash-matched ----
    "q373_fisher_exact" -> ((s, dir) =>
      graft.agg.Stats.fisherExact(
        t(s, dir, "events")
          .withColumn("exposed", pmod(col("user_id"), lit(2L)) === 0L)
          .withColumn("outcome", col("value") >= 150.0),
        Seq("event_type"), "exposed", "outcome")),

    // ---- LLM prep: DSIR importance weights — hashed-unigram
    //      target/raw log-ratios, bucket-order per-doc fold ----
    "q372_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.llm.Sampling.dsirWeights(docs,
        docs.filter(col("lang") === "en"), "doc_id", "text",
        dim = 64)
    }),

    // ---- experimentation: Jonckheere-Terpstra ordered trend —
    //      exact merge-count JT, untied-variance z ----
    "q370_jonckheere" -> ((s, dir) =>
      graft.agg.Stats.jonckheereTerpstra(
        t(s, dir, "events")
          .withColumn("day", date_trunc("day", col("ts")))
          .withColumn("dose", pmod(col("user_id"), lit(3L))),
        Seq("event_type", "day"), "dose", "value")),

    // ---- stats: ordinal-association panel — gamma, Somers' D both
    //      ways, tau-b from kendall's exact counts ----
    "q371_ordinal_assoc" -> ((s, dir) =>
      graft.agg.Stats.ordinalAssociation(
        t(s, dir, "events")
          .withColumn("uh", pmod(col("user_id"), lit(7L))
            .cast("double")),
        Seq("event_type"), "value", "uh")),

    // ---- stats: Cochran-Mantel-Haenszel — stratified 2x2 cells,
    //      stratum-order E/V/OR fold, pooled odds ratio ----
    "q368_cmh" -> ((s, dir) =>
      graft.agg.Stats.cmhTest(
        t(s, dir, "events")
          .withColumn("stratum", pmod(col("user_id"), lit(5L)))
          .withColumn("exposed", pmod(col("user_id"), lit(2L)) === 0L)
          .withColumn("outcome", col("value") >= 110.0),
        Seq("event_type"), "stratum", "exposed", "outcome")),

    // ---- experimentation: Page's ordered trend test — friedman's
    //      grid, j-weighted doubled rank sums, pinned z ----
    "q369_page_trend" -> ((s, dir) =>
      graft.agg.Stats.pageTrend(
        t(s, dir, "events")
          .withColumn("blk", pmod(col("user_id"), lit(50L)))
          .withColumn("variant", pmod(col("event_id"), lit(3L))),
        Seq("event_type"), "blk", "variant", "value")),

    // ---- time-series: Ljung-Box whiteness test — one lag-window
    //      pass, exact per-lag moments, static-lag Q chain ----
    "q365_ljung_box" -> ((s, dir) =>
      graft.agg.Stats.ljungBox(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value", maxLag = 3)),

    // ---- time-series: Mann-Kendall trend test — exact mergesort
    //      S, tie-corrected variance, continuity-corrected z ----
    "q366_mann_kendall" -> ((s, dir) =>
      graft.agg.Stats.mannKendall(
        t(s, dir, "events")
          .withColumn("day", date_trunc("day", col("ts"))),
        Seq("event_type", "day"), "ts", "event_id", "value")),

    // ---- time-series: lag-1 Granger F — restricted vs unrestricted
    //      one-step forecast, exact 2-regressor moments ----
    "q367_granger" -> ((s, dir) =>
      graft.agg.Stats.grangerF(
        t(s, dir, "events")
          .withColumn("uh", pmod(col("user_id"), lit(97L))
            .cast("double")),
        Seq("event_type"), "ts", "event_id", "value", "uh")),

    // ---- experimentation: Wilcoxon signed-rank — paired continuous
    //      test on doubled |d| ranks, exact tie term ----
    "q363_wilcoxon" -> ((s, dir) =>
      graft.agg.Stats.wilcoxonSignedRank(
        t(s, dir, "events")
          .withColumn("cohort", pmod(col("user_id"), lit(4L))),
        Seq("cohort"), "user_id", "event_type", "click", "view",
        "value")),

    // ---- survival: log-rank two-group test — exact at-risk grid,
    //      time-order O/E/V fold, pinned chi2 ----
    "q364_log_rank" -> ((s, dir) =>
      graft.agg.Stats.logRank(
        t(s, dir, "events")
          .withColumn("grp", pmod(col("user_id"), lit(2L)) === 0L)
          .withColumn("observed", pmod(col("user_id"), lit(10L)) < 8L),
        Seq("event_type"), "grp", "value", "observed")),

    // ---- streaming: MACD keyed state — (n, ef, es, sg) registers,
    //      batch ≡ stream, the 13th streaming state operator ----
    "q360_stream_macd" -> ((s, dir) => {
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
    }),

    // ---- stats: Bartlett's variance-homogeneity test — exact cell
    //      moments, group-order ln fold, pinned M/C closing ----
    "q361_bartlett" -> ((s, dir) =>
      graft.agg.Stats.bartlett(
        t(s, dir, "events")
          .withColumn("grp", pmod(col("user_id"), lit(4L))),
        Seq("event_type"), "grp", "value")),

    // ---- stats: Grubbs max-deviation outlier — exact n-scaled
    //      integer argmax, pinned G closing ----
    "q362_grubbs" -> ((s, dir) =>
      graft.agg.Stats.grubbs(
        t(s, dir, "events"), Seq("event_type"), "value")),

    // ---- stats: Chow structural-break test — per-segment exact
    //      conditional moments, pooled by decimal addition ----
    "q357_chow_test" -> ((s, dir) =>
      graft.agg.Stats.chowTest(
        t(s, dir, "events")
          .withColumn("seg", dayofmonth(col("ts")) >= 16)
          .withColumn("x", dayofmonth(col("ts")).cast("double")),
        Seq("event_type"), "seg", "x", "value")),

    // ---- stats: Cronbach's alpha — complete-subject item grid,
    //      item-order variance fold, subject-total variance ----
    "q358_cronbach_alpha" -> ((s, dir) =>
      graft.agg.Stats.cronbachAlpha(
        t(s, dir, "events")
          .withColumn("cohort", pmod(col("user_id"), lit(3L))),
        Seq("cohort"), "user_id", "event_type", "value")),

    // ---- stats: diversity panel — exact Simpson rational,
    //      category-order Shannon fold, Pielou evenness ----
    "q359_diversity" -> ((s, dir) =>
      graft.agg.Stats.diversityIndex(
        t(s, dir, "documents"), Seq("lang"), "source")),

    // ---- time-series: MACD momentum triple — three in-group EMA
    //      folds, in-expression alphas, per-event rows ----
    "q354_macd" -> ((s, dir) =>
      graft.ops.TimeSeries.macd(
        t(s, dir, "events"),
        Seq("user_id"), "ts", "event_id", "value")),

    // ---- time-series: stochastic oscillator — exact integer frame
    //      min/max, pinned %K, explicit-lag %D ----
    "q355_stochastic" -> ((s, dir) =>
      graft.ops.TimeSeries.stochasticOscillator(
        t(s, dir, "events"),
        Seq("user_id"), "ts", "event_id", "value")),

    // ---- forecasting: accuracy scorecard MAE/RMSE/MAPE/sMAPE/MASE
    //      — exact cent sums, 1e-9-grid ratio quantization ----
    "q356_forecast_accuracy" -> ((s, dir) =>
      graft.ops.TimeSeries.forecastAccuracy(
        t(s, dir, "events")
          .withColumn("pred",
            col("value").cast("decimal(18,2)") *
              lit(new java.math.BigDecimal("0.95")) +
              lit(new java.math.BigDecimal("2.0"))),
        Seq("event_type"), "ts", "event_id", "value", "pred")),

    // ---- stats: Jarque-Bera normality — exact power sums to the
    //      4th, pinned central-moment chain, sqrt never pow ----
    "q351_jarque_bera" -> ((s, dir) =>
      graft.agg.Stats.jarqueBera(
        t(s, dir, "events"), Seq("event_type"), "value")),

    // ---- stats: first-order partial correlation — nine exact
    //      moments in one pass, pinned pairwise-r and partial ----
    "q352_partial_corr" -> ((s, dir) =>
      graft.agg.Stats.partialCorr(
        t(s, dir, "events")
          .withColumn("uh", pmod(col("user_id"), lit(97L))
            .cast("double"))
          .withColumn("eh", pmod(col("event_id"), lit(89L))
            .cast("double")),
        Seq("event_type"), "value", "uh", "eh")),

    // ---- stats: Lin's concordance correlation — agreement scored
    //      against the identity line, bias charged ----
    "q353_lin_ccc" -> ((s, dir) =>
      graft.agg.Stats.linCcc(
        t(s, dir, "events")
          .withColumn("pred",
            col("value").cast("decimal(18,2)") *
              lit(new java.math.BigDecimal("0.9")) +
              lit(new java.math.BigDecimal("5.0"))),
        Seq("event_type"), "value", "pred")),

    // ---- experimentation: Friedman repeated-measures rank test —
    //      within-block doubled ranks, complete blocks only ----
    "q349_friedman" -> ((s, dir) =>
      graft.agg.Stats.friedman(
        t(s, dir, "events")
          .withColumn("blk", pmod(col("user_id"), lit(50L)))
          .withColumn("variant", pmod(col("event_id"), lit(3L))),
        Seq("event_type"), "blk", "variant", "value")),

    // ---- experimentation: Cochran's Q — k-condition binary paired
    //      test, per-subject max outcomes, complete subjects only ----
    "q350_cochran_q" -> ((s, dir) =>
      graft.agg.Stats.cochranQ(
        t(s, dir, "events")
          .withColumn("cohort", pmod(col("user_id"), lit(4L)))
          .withColumn("variant", pmod(col("event_id"), lit(3L)))
          .withColumn("hit", col("value") >= 110.0),
        Seq("cohort"), "user_id", "variant", "hit")),

    // ---- forecasting: Croston's method — calendar-spine grid with
    //      explicit zeros, five-double size/interval fold ----
    "q347_croston" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull &&
          col("event_type").isNotNull)
      val d = e.filter(col("value") >= 110.0)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("demand"))
      val span = e.groupBy(col("event_type"))
        .agg(date_trunc("day", min(col("ts"))).as("d0"),
          date_trunc("day", max(col("ts"))).as("d1"))
      val grid = span.withColumn("day",
        explode(sequence(col("d0"), col("d1"),
          expr("interval 1 day")))).drop("d0", "d1")
      val feed = grid.join(d, Seq("event_type", "day"), "left")
        .withColumn("demand", coalesce(col("demand"), lit(0.0)))
      graft.ops.TimeSeries.croston(feed, Seq("event_type"),
        "day", "day", "demand", alpha = 0.2)
    }),

    // ---- stats: Cohen's d + Hedges' g — exact arm moments, pooled
    //      scatter identity, in-expression debias factor ----
    "q345_cohens_d" -> ((s, dir) =>
      graft.agg.Stats.cohensD(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .withColumn("arm",
            when(col("user_id") % 2 === 0, "a").otherwise("b")),
        Seq("event_type"), "arm", "a", "b", "value")),

    // ---- stats: Mood's median test — grand discrete median, exact
    //      2×k cells, group-order χ² fold ----
    "q346_moods_median" -> ((s, dir) =>
      graft.agg.Stats.moodsMedianTest(
        t(s, dir, "events")
          .withColumn("grp", pmod(col("user_id"), lit(4L))),
        Seq("event_type"), "grp", "value")),

    // ---- stats: one-way ANOVA F + η² — exact integer group moments,
    //      group-order fold, pinned scatter-identity closing ----
    "q344_anova_f" -> ((s, dir) =>
      graft.agg.Stats.anovaF(
        t(s, dir, "events")
          .withColumn("grp", pmod(col("user_id"), lit(4L))),
        Seq("event_type"), "grp", "value")),

    // ---- streaming: Page-Hinkley keyed state — (n, Σcents, m, min m,
    //      latch) per key, batch ≡ stream, ordered single-file triggers ----
    "q343_stream_page_hinkley" -> ((s, dir) => {
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
    }),

    // ---- time-series: Holt-Winters additive seasonal — (3+m)-double
    //      sequential fold, in-expression complements, per-season rows ----
    "q342_holt_winters" -> ((s, dir) =>
      graft.ops.TimeSeries.holtWinters(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value",
        alpha = 0.3, beta = 0.1, gamma = 0.2, period = 7)),

    // ---- stats: Kruskal-Wallis H — doubled average ranks as exact
    //      longs, ANOVA-on-ranks closing (tie correction built in) ----
    "q340_kruskal_wallis" -> ((s, dir) =>
      graft.agg.Stats.kruskalWallis(
        t(s, dir, "events")
          .withColumn("grp", pmod(col("user_id"), lit(4L))),
        Seq("event_type"), "grp", "value")),

    // ---- stats: Wald-Wolfowitz runs test — discrete-median
    //      dichotomy, lag run boundaries, exact null moments ----
    "q341_runs_test" -> ((s, dir) =>
      graft.agg.Stats.runsTest(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value")),

    // ---- time-series: Page-Hinkley self-calibrating mean-shift
    //      detector — running-mean walk, latched first alarm ----
    "q338_page_hinkley" -> ((s, dir) =>
      graft.ops.TimeSeries.pageHinkley(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value",
        delta = 0.5, lambda = 200.0)),

    // ---- time-series: Durbin-Watson autocorrelation diagnostic —
    //      mean cancels in the numerator, exact moment closing ----
    "q339_durbin_watson" -> ((s, dir) =>
      graft.agg.Stats.durbinWatson(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value")),

    // ---- experimentation: Cochran-Armitage trend test — exact
    //      integer dose moments, one pinned z closing ----
    "q337_cochran_armitage" -> ((s, dir) =>
      graft.agg.Stats.cochranArmitage(
        t(s, dir, "events")
          .withColumn("dose", pmod(col("user_id"), lit(4L)))
          .withColumn("y", col("value") >= 50.0),
        Seq("event_type"), "dose", "y")),

    // ---- graph: HITS hubs & authorities — fixed-point integer
    //      sweeps with max-normalization, the q122 discipline ----
    "q336_hits" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      graft.graph.Centrality.hits(edges, "src", "dst", iterations = 2)
    }),

    // ---- time-series: Wilder RSI — exact cent deltas, seeded
    //      Wilder recurrence fold, pinned bounded-momentum closing ----
    "q335_rsi" -> ((s, dir) =>
      graft.ops.TimeSeries.rsi(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value", period = 14)),

    // ---- stats: Brown-Forsythe variance-homogeneity test — exact
    //      grid deviations from discrete group medians, ANOVA-on-z ----
    "q334_brown_forsythe" -> ((s, dir) =>
      graft.agg.Stats.brownForsythe(
        t(s, dir, "events")
          .withColumn("grp", pmod(col("user_id"), lit(4L))),
        Seq("event_type"), "grp", "value")),

    // ---- stats: binned quantile regression at τ=0.9 — exact weighted
    //      per-bin quantiles + mass-weighted line through the curve ----
    "q333_quantile_regression" -> ((s, dir) =>
      graft.agg.Stats.quantileRegression(
        t(s, dir, "events")
          .withColumn("x", hour(col("ts")).cast("double"))
          .withColumn("wt1", lit(1.0)),
        Seq("event_type"), "x", "value", "wt1",
        tau = 0.9, binWidth = 4.0)),

    // ---- ML eval: isotonic (PAV) calibration — binned score grid,
    //      exact integer-rational pooling, monotone fitted curve ----
    "q332_isotonic" -> ((s, dir) =>
      graft.agg.Stats.isotonicCalibration(
        t(s, dir, "events").filter(col("value").isNotNull)
          .withColumn("p",
            TA.md5i(concat(col("event_id").cast("string"), lit("cal")))
              .cast("double") / lit(4294967296.0))
          .withColumn("y", col("value") >= 50.0),
        Seq("event_type"), "p", "y", bins = 10)),

    // ---- time-series: maximum drawdown — integer cumulative-max
    //      peak, pinned relative drop, total-order argmax ----
    "q331_max_drawdown" -> ((s, dir) =>
      graft.ops.TimeSeries.maxDrawdown(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value")),

    // ---- embeddings: centroid silhouette — O(n·k) cluster-quality
    //      score; 1e-6-grid components, exact-decimal centroids,
    //      dim-ordered dot/norm folds, per-point output ----
    "q330_centroid_silhouette" -> ((s, dir) =>
      graft.llm.Similarity.centroidSilhouette(
        t(s, dir, "embeddings")
          .withColumn("cluster", (col("vec_id") % 5).cast("int")),
        "vec_id", "embedding", "cluster")),

    // ---- graph: degree assortativity — exact integer moments over
    //      both edge orientations, one closing division ----
    "q329_assortativity" -> ((s, dir) =>
      graft.graph.Graph.assortativity(
        graft.graph.Graph.coOccurrenceEdges(
          t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          maxPerGroup = 8))),

    // ---- graph: Newman modularity of a partition — per-community
    //      Q_c = m_c/m − (D_c/2m)² over the co-purchase graph, a
    //      deterministic node%8 partition so the oracle replays the
    //      METRIC with no transitive closure ----
    "q328_modularity" -> ((s, dir) => {
      // checkpoint: the edge build (pair self-join over lineitem)
      // feeds BOTH the node/assignment derivation and modularity's
      // normalization — without the cut it runs twice (measured at
      // sf0.1: warm 5.2 → 2.9 s, 23 → 18 jobs; the ~10 s cold draw
      // is the graph family's shared JIT warmup, see PLANS.md r15)
      val edges = graft.graph.Graph.coOccurrenceEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey", maxPerGroup = 8)
        .localCheckpoint(false)
      val nodes = edges.select(col("u").as("node"))
        .unionByName(edges.select(col("v").as("node"))).distinct()
      graft.graph.Graph.modularity(edges,
        nodes.withColumn("community", pmod(col("node"), lit(8L))))
    }),

    // ---- time-series: Holt linear-trend smoothing — O(1)-state
    //      sequential fold per key, in-expression complements,
    //      final (level, trend) + 3-step forecast ----
    "q327_holt_linear" -> ((s, dir) =>
      graft.ops.TimeSeries.holtLinear(
        t(s, dir, "events"),
        Seq("event_type"), "ts", "event_id", "value",
        alpha = 0.3, beta = 0.1, horizon = 3)),

    // ---- time-series: TWAP with prevailing-quote carry-in — holds
    //      explode into the buckets they span (bucket-grid sequence),
    //      carried buckets report the held price with n_ticks 0 ----
    "q326_twap_carry" -> ((s, dir) =>
      graft.ops.TimeSeries.twapCarry(
        t(s, dir, "events"),
        Seq("user_id"), "ts", "event_id", "value", unit = "hour")
        .select(col("user_id"),
          unix_micros(col("bucket")).as("bucket_us"),
          col("n_ticks"), col("twap"))),

    // ---- experimentation: always-valid inference (mSPRT) — log-space
    //      mixture likelihood ratio, round-9 libm ln, exact decimal
    //      S − nθ₀, earliest ln Λ ≥ ln(1/α) crossing ----
    "q325_msprt" -> ((s, dir) =>
      graft.agg.Stats.msprt(
        t(s, dir, "events").withColumn("y", col("value") >= 50.0),
        Seq("event_type"), "ts", "event_id", "y",
        theta0 = 0.45, tau = 0.1, alpha = 0.05)),

    // ---- experimentation: group-sequential interim analysis —
    //      classic O'Brien-Fleming K=5 boundaries 2.04·√(5/k) as
    //      pinned literals, cumulative two-proportion z on the
    //      (ts, event_id) total order, earliest crossing wins ----
    "q324_group_sequential" -> ((s, dir) =>
      graft.agg.Stats.groupSequential(
        t(s, dir, "events")
          .withColumn("variant", col("user_id") % 2 === 0)
          .withColumn("y", col("value") >= 55.0),
        Seq("event_type"), "ts", "event_id", "variant", "y",
        boundaries = (1 to 5).map(i => 2.04 * math.sqrt(5.0 / i)))),

    // ---- record linkage: full Damerau-Levenshtein self-join over
    //      part names — byte-level DuckDB-pinned native kernel,
    //      (first char, ±len) blocking as pinned semantics ----
    "q308_dl_join" -> ((s, dir) =>
      graft.join.Fuzzy.damerauSelfJoin(
        t(s, dir, "part").select(col("p_partkey"), col("p_name")),
        "p_partkey", "p_name", maxDist = 2L)),

    // ---- graph: multi-source BFS hop distance (≤3) from the %97
    //      seed set over the co-purchase graph — level-synchronous
    //      frontier expansion, unique min-distance answer ----
    "q274_bfs_hops" -> ((s, dir) => {
      // checkpoint: the edge build feeds the seed derivation (twice,
      // via the vertex union) AND bfsHops' own normalization —
      // without the cut the pair self-join runs 3x
      val edges = graft.graph.Graph.coOccurrenceEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey", maxPerGroup = 8)
        .localCheckpoint(false)
      val verts = edges.select(col("u").as("vertex"))
        .unionByName(edges.select(col("v").as("vertex"))).distinct()
      val seeds = verts.filter(pmod(col("vertex"), lit(97)) === 0)
      graft.graph.Graph.bfsHops(edges, seeds, maxHops = 3)
    })
  )

  /** Centroids the q39 run trained, for oracle inlining (bit-exact:
   *  `Double.toString` round-trips and DuckDB parses to the nearest
   *  double). Empty until q39 runs → q39 gets a rows-only check.
   *  Holds the LAST run's centroids: valid because Verify processes
   *  one scale-factor directory per invocation (running q39 against a
   *  second dataset in the same JVM would overwrite them). */
  @volatile private var q39Centroids: Seq[Array[Double]] = Nil

  /** q68's trained centroids (same stash-for-oracle mechanism as
   *  [[q39Centroids]] — Verify dumps oracleSql AFTER the queries run). */
  @volatile private var q68Centroids: Seq[Array[Double]] = Nil

  /** q140's trained centroids (same stash-for-oracle mechanism as
   *  [[q39Centroids]]). */
  @volatile private var q140Centroids: Seq[Array[Double]] = Nil

  /** Prototype-prune oracle: the SAME trained centroids inlined;
   *  assignment replays the CentroidRanks sequential sqdist fold (the
   *  q39/q68 pattern), prototypicality the list_dot_product cosine,
   *  the drop rule an integer cross-multiplication. */
  private def q140OracleSql(cents: Seq[Array[Double]]): String = {
    val values = cents.zipWithIndex.map { case (c, j) =>
      s"($j, ${c.mkString("[", ", ", "]")}::DOUBLE[])"
    }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent(j, c) AS (VALUES $values),
       |dist AS (SELECT vec_id, v, j, c,
       |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |     list_transform(list_zip(v, c), p -> (p[1] - p[2]) * (p[1] - p[2]))),
       |     (acc, x) -> acc + x) AS d
       | FROM e CROSS JOIN cent),
       |assign AS (SELECT vec_id, v, j AS cl, c FROM dist
       | QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, j) = 1),
       |sc AS (SELECT vec_id, cl,
       |   CASE WHEN sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(c, c)) = 0 THEN 0.0
       |        ELSE list_dot_product(v, c) /
       |             (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(c, c))) END AS pc
       | FROM assign),
       |r AS (SELECT vec_id, CAST(cl AS BIGINT) AS cluster,
       |   CAST(row_number() OVER (PARTITION BY cl ORDER BY pc DESC, vec_id) AS BIGINT) AS proto_rank,
       |   CAST(count(*) OVER (PARTITION BY cl) AS BIGINT) AS n_cluster
       | FROM sc)
       |SELECT vec_id, cluster, proto_rank, n_cluster,
       |  proto_rank * 2 > n_cluster AS kept FROM r""".stripMargin
  }

  /** q85's waterfilled per-language thresholds (`round(frac·denom)`,
   *  same stash-for-oracle mechanism as [[q39Centroids]]). */
  @volatile private var q85Thresholds: Map[String, Long] = Map.empty

  /** Temperature-mix oracle: the SAME integer thresholds the Spark
   *  side derived, inlined — the driver replays only the md5 rule. */
  private def q85OracleSql(th: Map[String, Long]): String = {
    val cases = th.toSeq.sorted
      .map { case (k, t) => s"WHEN '$k' THEN $t" }.mkString(" ")
    s"""SELECT * FROM documents
       |WHERE ('0x'||substr(md5(doc_id::VARCHAR || 'temp1'),1,8))::BIGINT % 10000
       |  < CASE lang $cases ELSE NULL END""".stripMargin
  }

  /** q123's integer mixture thresholds (`round(frac·denom)`, same
   *  stash-for-oracle mechanism as [[q85Thresholds]]). */
  @volatile private var q123Thresholds: Map[String, Long] = Map.empty

  /** Token-mixture oracle: the SAME integer thresholds the Spark side
   *  derived from the token-budget fractions, inlined — the driver
   *  replays only the md5 rule + the token count. */
  private def q123OracleSql(th: Map[String, Long]): String = {
    val cases = th.toSeq.sorted
      .map { case (k, t) => s"WHEN '$k' THEN $t" }.mkString(" ")
    s"""SELECT doc_id, text, lang, source, n_chars,
       |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
       |FROM documents
       |WHERE ('0x'||substr(md5(doc_id::VARCHAR || 'mix1'),1,8))::BIGINT % 10000
       |  < CASE lang $cases ELSE NULL END""".stripMargin
  }

  /** Semantic near-dup oracle: same-cluster pairs with cosine ≥ 0.35,
   *  clusters from the SAME trained centroids inlined as literals
   *  (assignment replicates Spark's sequential squared-L2 fold and
   *  (d, j) tie order — bit-identical doubles). */
  private def q68OracleSql(cents: Seq[Array[Double]]): String = {
    val values = cents.zipWithIndex.map { case (c, j) =>
      s"($j, ${c.mkString("[", ", ", "]")}::DOUBLE[])"
    }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent(j, c) AS (VALUES $values),
       |dist AS (SELECT vec_id, v, j,
       |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |     list_transform(list_zip(v, c), p -> (p[1] - p[2]) * (p[1] - p[2]))),
       |     (acc, x) -> acc + x) AS d
       | FROM e CROSS JOIN cent),
       |assign AS (SELECT vec_id, v, j AS cl FROM dist
       | QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, j) = 1),
       |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
       |   list_dot_product(a.v, b.v)/(sqrt(list_dot_product(a.v, a.v))*sqrt(list_dot_product(b.v, b.v))) AS cos
       | FROM assign a JOIN assign b ON a.cl = b.cl AND a.vec_id < b.vec_id)
       |SELECT id1, id2 FROM p WHERE cos >= 0.35""".stripMargin
  }

  /** IVF oracle: the full probe path in DuckDB against the SAME trained
   *  centroids, inlined as literals. Distances replicate Spark's
   *  sequential fold (`list_reduce` over the zipped squared diffs) so
   *  argmin/probe comparisons see bit-identical doubles. */
  private def q39OracleSql(cents: Seq[Array[Double]]): String = {
    val values = cents.zipWithIndex.map { case (c, j) =>
      s"($j, ${c.mkString("[", ", ", "]")}::DOUBLE[])"
    }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent(j, c) AS (VALUES $values),
       |dist AS (SELECT vec_id, v, j,
       |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |     list_transform(list_zip(v, c), p -> (p[1] - p[2]) * (p[1] - p[2]))),
       |     (acc, x) -> acc + x) AS d
       | FROM e CROSS JOIN cent),
       |assign AS (SELECT vec_id, v, j AS cl FROM dist
       | QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, j) = 1),
       |probes AS (SELECT vec_id AS qid, v AS qv, j AS cl FROM dist WHERE vec_id < 20
       | QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, j) <= 4),
       |s AS (SELECT qid AS query_id, a.vec_id AS neighbor_id,
       |   list_dot_product(qv, a.v)/(sqrt(list_dot_product(qv, qv))*sqrt(list_dot_product(a.v, a.v))) AS cos
       | FROM probes p JOIN assign a ON p.cl = a.cl AND a.vec_id <> p.qid)
       |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS "rank", neighbor_id
       |FROM s QUALIFY "rank" <= 3""".stripMargin
  }

  /** Shared CTE chain producing the MinHash-LSH verified-pair relation
   *  `v(id1, id2, jaccard)` — used by the q24 oracle and, extended
   *  with a recursive closure, the q45/q49 oracles. The bands QUALIFY
   *  mirrors the Spark side's hot-bucket cap (maxBucketSize = 1000),
   *  so the comparison stays exact even on a mass-duplicated corpus. */
  private val minhashCtes: String =
    """w AS (SELECT doc_id, string_split_regex(text,'\s+') AS w FROM documents),
      |hs AS (SELECT doc_id, list_transform(list_distinct(list_transform(generate_series(1, len(w)-2),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])),
      |        s -> ('0x'||substr(md5(s),1,8))::BIGINT) AS hs FROM w),
      |sig AS (SELECT doc_id, list_transform(generate_series(0,31),
      |        i -> list_min(list_transform(hs, h -> ((2*i+1)*h + 12582917*i + 1) % 4294967311))) AS sig FROM hs),
      |bands AS (SELECT doc_id, r.b AS band, array_to_string(sig[r.b*4+1 : r.b*4+4], ',') AS bkey
      |          FROM sig CROSS JOIN range(8) r(b)
      |          QUALIFY count(*) OVER (PARTITION BY band, bkey) <= 1000),
      |cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
      |         FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
      |v AS (SELECT id1, id2,
      |        CAST(len(list_intersect(s1.hs, s2.hs)) AS DOUBLE) / CAST(len(list_distinct(s1.hs || s2.hs)) AS DOUBLE) AS jaccard
      |      FROM cand JOIN hs s1 ON s1.doc_id = cand.id1 JOIN hs s2 ON s2.doc_id = cand.id2)""".stripMargin

  /** Transitive closure of the verified pairs → `comp(node, component)`
   *  with component = min reachable id. Shared by the q45/q49 oracles;
   *  requires `WITH RECURSIVE` and the [[minhashCtes]] prefix. */
  private val componentsCtes: String =
    """pairs AS (SELECT id1, id2 FROM v WHERE jaccard >= 0.5),
      |e AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2 AS a, id1 AS b FROM pairs),
      |reach AS (
      |  SELECT a AS node, a AS r FROM e
      |  UNION
      |  SELECT reach.node, e.b AS r FROM reach JOIN e ON reach.r = e.a
      |),
      |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)""".stripMargin

  /** DuckDB-equivalent SQL per query (column names MUST match). */
  def oracleSql: Map[String, String] =
    (if (q39Centroids.nonEmpty) Map("q39_ivf" -> q39OracleSql(q39Centroids))
     else Map.empty[String, String]) ++
    (if (q68Centroids.nonEmpty)
       Map("q68_semantic_neardup" -> q68OracleSql(q68Centroids))
     else Map.empty[String, String]) ++
    (if (q140Centroids.nonEmpty)
       Map("q140_prototype_prune" -> q140OracleSql(q140Centroids))
     else Map.empty[String, String]) ++
    (if (q85Thresholds.nonEmpty)
       Map("q85_temperature_mix" -> q85OracleSql(q85Thresholds))
     else Map.empty[String, String]) ++
    (if (q123Thresholds.nonEmpty)
       Map("q123_token_mixture" -> q123OracleSql(q123Thresholds))
     else Map.empty[String, String]) ++ Map(

    // hourly bucket (order-independent max), per-user dense axis,
    // left join, forward fill — default RANGE frames both engines
    "q126_resample_fill" ->
      """WITH b AS (SELECT user_id, date_trunc('hour', ts) AS bucket, max(value) AS v
        |           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM b GROUP BY 1),
        |a AS (SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket FROM s)
        |SELECT a.user_id, a.bucket, b.v,
        |  last_value(b.v IGNORE NULLS) OVER (PARTITION BY a.user_id ORDER BY a.bucket) AS v_fill
        |FROM a LEFT JOIN b ON a.user_id = b.user_id AND a.bucket = b.bucket""".stripMargin,

    // brute-force cosine ranking restricted to the negative band
    // [0.1, 0.5) — same fixed-order double arithmetic as q27
    "q139_hard_negatives" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT qid AS query_id, vec_id AS neighbor_id,
        |   list_dot_product(qv,v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(v,v))) AS cos
        |   FROM q JOIN e ON vec_id <> qid),
        |b AS (SELECT * FROM s WHERE cos < 0.5 AND cos >= 0.1)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS "rank", neighbor_id, cos
        |FROM b QUALIFY "rank" <= 5""".stripMargin,

    // exact token counts, global (count desc, token) rank cut to 100,
    // running sum over the survivors against the corpus-wide total
    "q141_vocab_coverage" ->
      """WITH tok AS (SELECT unnest(string_split_regex(coalesce(text, ''), '\s+')) AS token
        |             FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok
        |      WHERE token <> '' GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
        |r AS (SELECT token, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS "rank"
        |      FROM c QUALIFY "rank" <= 100)
        |SELECT "rank", token, cnt,
        |  CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
        |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt,
        |  CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
        |       ROWS UNBOUNDED PRECEDING) AS DOUBLE) / CAST(total AS DOUBLE) AS cum_frac
        |FROM r CROSS JOIN t""".stripMargin,

    // weekly cohort = min truncated bucket per user; offsets in whole
    // weeks via integer epoch-microsecond division; counts exact,
    // retention one division
    "q142_retention" ->
      """WITH e AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS bucket
        |           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |ab AS (SELECT user_id, min(bucket) OVER (PARTITION BY user_id) AS cohort, bucket FROM e),
        |o AS (SELECT user_id, cohort,
        |        (epoch_us(bucket) - epoch_us(cohort)) // 604800000000 AS "offset" FROM ab),
        |s AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size FROM o
        |      WHERE "offset" = 0 GROUP BY 1),
        |a AS (SELECT cohort, "offset", CAST(count(*) AS BIGINT) AS n_active
        |      FROM o GROUP BY 1, 2)
        |SELECT a.cohort, a."offset", a.n_active, s.cohort_size,
        |  CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
        |FROM a JOIN s USING (cohort)""".stripMargin,

    // the stream's folded running counts must equal the batch
    // per-user event counts exactly
    "q143_stream_counts" ->
      """SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n_events
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |GROUP BY 1""".stripMargin,

    // exact integer histograms; expected counts and χ² terms replay
    // the pinned (C·S/T, (o−e)²/e) expression order; per-source sum
    // folds in category-rank order (the bm25 ordered-fold contract)
    "q144_chisq_drift" ->
      """WITH tok AS (SELECT source, unnest(string_split_regex(coalesce(text, ''), '\s+')) AS token
        |             FROM documents),
        |cnt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n FROM tok
        |        WHERE token <> '' GROUP BY 1, 2),
        |corpus AS (SELECT token, CAST(sum(n) AS BIGINT) AS c FROM cnt GROUP BY 1),
        |cats AS (SELECT token, c, CAST(row_number() OVER (ORDER BY c DESC, token) AS BIGINT) AS r
        |         FROM corpus QUALIFY r <= 50),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM corpus),
        |oth AS (SELECT CAST(51 AS BIGINT) AS r, t - (SELECT sum(c) FROM cats) AS c
        |        FROM tot WHERE t - (SELECT sum(c) FROM cats) > 0),
        |catfull AS (SELECT r, c FROM cats UNION ALL SELECT r, c FROM oth),
        |st AS (SELECT source, CAST(sum(n) AS BIGINT) AS s FROM cnt GROUP BY 1),
        |obs AS (SELECT cnt.source, coalesce(cats.r, 51) AS r, CAST(sum(cnt.n) AS BIGINT) AS o
        |        FROM cnt LEFT JOIN cats USING (token) GROUP BY 1, 2),
        |grid AS (SELECT st.source, st.s, catfull.r, catfull.c, tot.t,
        |           coalesce(obs.o, 0) AS o
        |         FROM st CROSS JOIN catfull CROSS JOIN tot
        |         LEFT JOIN obs ON obs.source = st.source AND obs.r = catfull.r),
        |terms AS (SELECT source, s, r,
        |   (CAST(o AS DOUBLE) - CAST(c AS DOUBLE) * CAST(s AS DOUBLE) / CAST(t AS DOUBLE))
        |   * (CAST(o AS DOUBLE) - CAST(c AS DOUBLE) * CAST(s AS DOUBLE) / CAST(t AS DOUBLE))
        |   / (CAST(c AS DOUBLE) * CAST(s AS DOUBLE) / CAST(t AS DOUBLE)) AS term
        |  FROM grid)
        |SELECT source, min(s) AS n_tokens, CAST(count(*) AS BIGINT) AS n_categories,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY r)),
        |    (a, x) -> a + x) AS chisq
        |FROM terms GROUP BY source""".stripMargin,

    // exact discrete percentile edges (the q66 decimal-rank rule) +
    // explicit WHEN clamp — no least/greatest null-semantics risk
    "q145_winsorize" ->
      """WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL),
        |e AS (SELECT event_type,
        |    min(CASE WHEN rn = CAST(ceil(CAST(0.05 AS DECIMAL(18,12)) * n) AS INT) THEN value END) AS lo,
        |    min(CASE WHEN rn = CAST(ceil(CAST(0.95 AS DECIMAL(18,12)) * n) AS INT) THEN value END) AS hi
        |  FROM r GROUP BY 1)
        |SELECT ev.event_id, ev.event_type, ev.value,
        |  CASE WHEN ev.value < lo THEN lo WHEN ev.value > hi THEN hi
        |       ELSE ev.value END AS value_w
        |FROM events ev LEFT JOIN e USING (event_type)""".stripMargin,

    // the estimate is DataSketches arithmetic (not oracle-replayable);
    // the CLAIM — within 5% of the exact distinct count after a
    // sketch-only rollup — is engine-independent and hash-gated
    "q146_hll_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS estimate_ok
        |FROM events WHERE user_id IS NOT NULL GROUP BY 1""".stripMargin,

    // the q127 batch-funnel oracle restricted to actors with at least
    // one STEP event (the stream emits state only for those); the
    // stream's fold must hash-match the batch formula exactly
    "q138_stream_funnel" ->
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
        |FROM w3 GROUP BY user_id""".stripMargin,

    // running min(CASE step) windows, default RANGE frame (tie-safe);
    // step columns form a prefix, stage = highest non-null
    "q127_funnel" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
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
        |FROM w3 GROUP BY user_id""".stripMargin,

    // edges replay the q66 percentile recipe (rank ceil(p·n) in
    // decimal); bin = 1 + edges strictly below the value
    "q128_quantile_bins" ->
      """WITH rk AS (SELECT o_totalprice AS v,
        |    row_number() OVER (ORDER BY o_totalprice) AS rn,
        |    count(*) OVER () AS n FROM orders WHERE o_totalprice IS NOT NULL),
        |ed AS (SELECT v FROM rk CROSS JOIN (VALUES (0.1),(0.2),(0.3),(0.4),(0.5),
        |         (0.6),(0.7),(0.8),(0.9)) p(p)
        |       WHERE rn = CAST(ceil(CAST(p.p AS DECIMAL(18,12)) * n) AS INT))
        |SELECT o.o_orderkey, o.o_totalprice,
        |  CASE WHEN o.o_totalprice IS NOT NULL
        |       THEN 1 + (SELECT count(*) FROM ed WHERE o.o_totalprice > ed.v) END AS bin
        |FROM orders o""".stripMargin,

    // stats over the FULL (term, doc, tf) relation; postings from the
    // rank-capped one — same split as the Spark side
    "q129_inverted_index" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(coalesce(text, ''), '\s+')) AS term
        |             FROM documents),
        |td AS (SELECT term, doc_id, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2),
        |st AS (SELECT term, count(*) AS doc_freq, CAST(sum(tf) AS BIGINT) AS tf_total
        |       FROM td GROUP BY 1),
        |cap AS (SELECT term, doc_id FROM (SELECT term, doc_id,
        |          row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM td)
        |        WHERE rn <= 20),
        |p AS (SELECT term, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |      FROM cap GROUP BY 1)
        |SELECT st.term, st.doc_freq, st.tf_total, p.postings FROM st JOIN p USING (term)""".stripMargin,

    // running sums with default RANGE frames (peers included ⇒ tie
    // order free); one exactly-rounded long→double divide per CDF
    "q130_ks_drift" ->
      """WITH m AS (SELECT value AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ib
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |c AS (SELECT v, sum(ia) OVER (ORDER BY v) AS ca, sum(ib) OVER (ORDER BY v) AS cb,
        |             sum(ia) OVER () AS na, sum(ib) OVER () AS nb FROM m)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  max(abs(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |        - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))) AS ks_stat
        |FROM c WHERE na > 0 AND nb > 0 GROUP BY na, nb""".stripMargin,

    // both arms replayed with the SAME hyperplane signatures as the
    // q30 oracle (k=10): exact arm joins all, approx arm joins within
    // buckets; recall = |∩| / n_exact with missed queries kept at 0
    "q136_ann_recall" -> {
      val planes = graft.llm.Similarity.planesFor(6, 64)
      val bucketExpr = planes.zipWithIndex.map { case (pl, p) =>
        val arr = pl.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |bkt AS (SELECT vec_id, v, $bucketExpr AS b FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, b FROM bkt WHERE vec_id < 50),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT qid AS query_id, e.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(v,v))) DESC,
         |      e.vec_id) AS rn
         |  FROM q JOIN e ON e.vec_id <> qid) WHERE rn <= 10),
         |ap AS (SELECT query_id, neighbor_id, rn FROM (
         |  SELECT qid AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,c.v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(c.v,c.v))) DESC,
         |      c.vec_id) AS rn
         |  FROM q JOIN bkt c ON q.b = c.b AND c.vec_id <> q.qid) WHERE rn <= 10),
         |base AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1),
         |hit AS (SELECT ex.query_id, count(*) AS hits, min(ap.rn) AS first_hit_rank
         |        FROM ex JOIN ap USING (query_id, neighbor_id) GROUP BY 1)
         |SELECT base.query_id, n_exact, coalesce(hits, 0) AS hits,
         |  CAST(coalesce(hits, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall,
         |  first_hit_rank,
         |  CASE WHEN first_hit_rank IS NOT NULL
         |       THEN 1e0 / CAST(first_hit_rank AS DOUBLE) ELSE 0e0 END AS rr
         |FROM base LEFT JOIN hit USING (query_id)""".stripMargin
    },

    // distinct (source, 60-bit md5 5-gram) relation self-joined on
    // the hash — the q53 shingle/hash recipe, pairwise
    "q137_source_overlap" ->
      """WITH w AS (SELECT source, string_split_regex(text,'\s+') AS w FROM documents),
        |sh AS (SELECT DISTINCT source, ('0x'||substr(md5(s),1,15))::BIGINT AS h FROM (
        |  SELECT source, unnest(list_distinct(list_transform(generate_series(1, len(w)-4),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]))) AS s FROM w))
        |SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
        |FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    // capped LISTAGG via rank-gated CASE (string_agg skips nulls,
    // array_join skips nulls — same semantics), count over all rows
    "q132_event_sequences" ->
      """WITH r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT user_id, count(*) AS n_events,
        |  string_agg(CASE WHEN rn <= 30 THEN event_type END, ' ' ORDER BY rn) AS sequence
        |FROM r GROUP BY user_id""".stripMargin,

    // lag in epoch micros over (key, type), tie on event_id; kept =
    // burst heads (previous event absent or further than the gap)
    "q133_throttle" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM (
        |  SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts), event_id) AS p
        |  FROM events WHERE ts IS NOT NULL)
        |WHERE p IS NULL OR epoch_us(ts) - p > 86400000000""".stripMargin,

    // change points only: first row per user or value differs from
    // the previous row (null-safe IS DISTINCT FROM = Spark <=>)
    "q134_compress_consecutive" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM (
        |  SELECT *, lag(event_id) OVER w AS pid, lag(event_type) OVER w AS pv
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND user_id IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |WHERE pid IS NULL OR pv IS DISTINCT FROM event_type""".stripMargin,

    // same k-gram windows (lead over (doc, pos)) and islands pass;
    // space-joined grams, end-exclusive [pos, pos+k) ranges
    "q131_duplicate_spans" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '\s+') AS l
        |           FROM documents),
        |t AS (SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) - 1 AS pos FROM d),
        |tf AS (SELECT doc_id, term, pos FROM t WHERE term <> ''),
        |g AS (SELECT doc_id, pos,
        |        term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w || ' ' ||
        |        lead(term, 3) OVER w || ' ' || lead(term, 4) OVER w AS gram,
        |        lead(term, 4) OVER w AS lastt
        |      FROM tf WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |g2 AS (SELECT doc_id, pos, gram FROM g WHERE lastt IS NOT NULL),
        |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
        |h AS (SELECT doc_id, pos AS s, pos + 5 AS e FROM g2
        |      WHERE gram IN (SELECT gram FROM dup)),
        |i AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM h),
        |j AS (SELECT doc_id, s, e, CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS ni FROM i),
        |k2 AS (SELECT doc_id, s, e, sum(ni) OVER (PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM j)
        |SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
        |       max(e) - min(s) AS span_tokens
        |FROM k2 GROUP BY doc_id, isl""".stripMargin,

    "q01_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        | min(l_quantity) AS min_qty, max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q02_global_agg" ->
      """SELECT count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        | min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship,
        | count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,

    "q03_filter_chain" ->
      """SELECT * FROM part
        |WHERE p_type IN ('ECONOMY','PROMO')
        |  AND p_size BETWEEN 5 AND 30
        |  AND (p_name LIKE '%widget%' OR p_name LIKE 'large%')
        |  AND NOT (p_brand LIKE '%#13')
        |  AND regexp_matches(p_name, '^[a-z]+ [a-z]+$')
        |  AND p_brand IS NOT NULL AND p_brand <> ''
        |  AND p_retailprice > 901.0""".stripMargin,

    "q04_transforms" ->
      """SELECT c_custkey, upper(c_name) AS name, lower(c_mktsegment) AS segment,
        | c_acctbal,
        | CASE WHEN c_acctbal < 0 THEN 'negative'
        |      WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_bucket,
        | CAST(c_nationkey AS VARCHAR) AS nation_str
        |FROM customer""".stripMargin,

    "q05_time_json" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_sec,
        | CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
        | CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h
        |FROM events""".stripMargin,

    "q06_join_inner" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "q07_join_left" ->
      """SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders,
        | COALESCE(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin,

    "q08_join_full" ->
      """SELECT COALESCE(l.pk, r.pk) AS pk, l.p_name, r.n_li
        |FROM (SELECT p_partkey AS pk, p_name FROM part WHERE p_partkey < 120) l
        |FULL JOIN (SELECT l_partkey AS pk, count(*) AS n_li FROM lineitem
        |           WHERE l_partkey BETWEEN 80 AND 200 GROUP BY 1) r
        |  ON l.pk = r.pk""".stripMargin,

    "q09_join_semi_anti" ->
      """SELECT c_custkey, 'has_orders' AS status FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS status FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q10_lookup" ->
      """SELECT n_name, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |LEFT JOIN supplier ON l_suppkey = s_suppkey
        |LEFT JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,

    "q11_union" ->
      """SELECT c_custkey AS id, c_name AS name, 'customer' AS src FROM customer
        |UNION ALL
        |SELECT s_suppkey AS id, s_name AS name, 'supplier' AS src FROM supplier""".stripMargin,

    "q12_window" ->
      """SELECT l_suppkey, rn, l_orderkey, l_linenumber, running_qty FROM (
        | SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_qty
        | FROM lineitem
        | WINDOW w AS (PARTITION BY l_suppkey
        |              ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |) WHERE rn <= 5""".stripMargin,

    "q13_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q14_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q15_casts" ->
      """SELECT o_orderkey, CAST(trunc(o_totalprice) AS BIGINT) AS qty_int,
        | CAST(o_orderkey AS VARCHAR) AS key_str,
        | TRY_CAST(o_orderpriority AS INT) AS prio_num
        |FROM orders""".stripMargin,

    "q16_event_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q17_cdc" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |        CAST(o_totalprice AS DECIMAL(18,2)) AS tp FROM orders),
        |prev AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |        CAST(tp AS DOUBLE) AS o_totalprice FROM base WHERE o_orderkey % 10 <= 7),
        |cur AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |        CAST(CASE WHEN o_orderkey % 3 = 0 THEN tp + 10.00 ELSE tp END AS DOUBLE)
        |          AS o_totalprice
        |        FROM base WHERE o_orderkey % 10 >= 1),
        |j AS (SELECT COALESCE(c.o_orderkey, p.o_orderkey) AS o_orderkey,
        |        CASE WHEN c.o_orderkey IS NULL THEN p.o_custkey ELSE c.o_custkey END AS o_custkey,
        |        CASE WHEN c.o_orderkey IS NULL THEN p.o_orderstatus ELSE c.o_orderstatus END AS o_orderstatus,
        |        CASE WHEN c.o_orderkey IS NULL THEN p.o_totalprice ELSE c.o_totalprice END AS o_totalprice,
        |        CASE WHEN p.o_orderkey IS NULL THEN 'INSERT'
        |             WHEN c.o_orderkey IS NULL THEN 'DELETE'
        |             WHEN NOT (c.o_totalprice IS NOT DISTINCT FROM p.o_totalprice
        |                   AND c.o_orderstatus IS NOT DISTINCT FROM p.o_orderstatus) THEN 'UPDATE'
        |        END AS change_type
        |      FROM cur c FULL JOIN prev p ON c.o_orderkey = p.o_orderkey)
        |SELECT * FROM j WHERE change_type IS NOT NULL""".stripMargin,

    "q18_scd2" ->
      """WITH c AS (SELECT c_custkey, c_name, c_mktsegment FROM customer),
        |src AS (SELECT c_custkey, c_name,
        |         CASE WHEN c_custkey % 3 = 0 THEN 'SEG_NEW' ELSE c_mktsegment END AS c_mktsegment
        |        FROM c WHERE c_custkey % 2 = 0),
        |dimcur AS (SELECT c_custkey, c_name, c_mktsegment FROM c WHERE c_custkey % 4 <> 0),
        |j AS (SELECT s.c_custkey, s.c_name, s.c_mktsegment,
        |             d.c_custkey AS dk, d.c_name AS dname, d.c_mktsegment AS dseg
        |      FROM src s LEFT JOIN dimcur d ON s.c_custkey = d.c_custkey)
        |SELECT dk AS c_custkey, dname AS c_name, dseg AS c_mktsegment,
        |       '2020-01-01' AS effective_from, '2024-06-01' AS effective_to,
        |       FALSE AS is_current
        |  FROM j WHERE dk IS NOT NULL AND dseg IS DISTINCT FROM c_mktsegment
        |UNION ALL
        |SELECT c_custkey, c_name, c_mktsegment, '2024-06-01', '9999-12-31', TRUE
        |  FROM j WHERE dk IS NOT NULL AND dseg IS DISTINCT FROM c_mktsegment
        |UNION ALL
        |SELECT dk, dname, dseg, '2020-01-01', '9999-12-31', TRUE
        |  FROM j WHERE dk IS NOT NULL AND dseg IS NOT DISTINCT FROM c_mktsegment
        |UNION ALL
        |SELECT c_custkey, c_name, c_mktsegment, '2024-06-01', '9999-12-31', TRUE
        |  FROM j WHERE dk IS NULL""".stripMargin,

    "q19_scd3" ->
      """WITH src AS (SELECT c_custkey, c_name, c_mktsegment FROM customer
        |             WHERE c_custkey % 2 = 0),
        |dim AS (SELECT c_custkey, 'OLD_' || c_mktsegment AS c_mktsegment,
        |               CAST(c_custkey % 3 + 1 AS INT) AS version
        |        FROM customer WHERE c_custkey % 4 <> 0)
        |SELECT s.c_custkey, s.c_name, s.c_mktsegment,
        |  CASE WHEN d.c_custkey IS NOT NULL THEN d.c_mktsegment END AS previous_c_mktsegment,
        |  CAST(CASE WHEN d.c_custkey IS NOT NULL THEN d.version + 1 ELSE 1 END AS INT) AS version
        |FROM src s LEFT JOIN dim d ON s.c_custkey = d.c_custkey""".stripMargin,

    "q21_dedup_exact" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) = 1""".stripMargin,

    // w = NON-EMPTY tokens (list_filter), matching cleanTokens; the
    // zero-token guards (CASE len(w) = 0) mirror the Spark-side 0.0
    // fallbacks for empty/whitespace-only documents
    "q22_text_metrics" ->
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS w
        |  FROM documents)
        |SELECT doc_id,
        | CAST(len(w) AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
        | CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
        | CASE WHEN len(w) = 0 THEN 0.0 ELSE
        |   CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / CAST(len(w) AS DOUBLE) END AS mean_len,
        | CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio,
        | CASE WHEN len(w) = 0 THEN 0.0 ELSE
        |   CAST(len(list_filter(w, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by','be','this','that','from'], x))) AS DOUBLE) / CAST(len(w) AS DOUBLE) END AS stop_ratio,
        | 0.4 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
        |   + 0.3 * (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE))
        |   + 0.3 * (CASE WHEN len(w) = 0 THEN 0.0 ELSE CAST(len(list_filter(w, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by','be','this','that','from'], x))) AS DOUBLE) / CAST(len(w) AS DOUBLE) END) AS quality,
        | list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(w, x -> ('0x'||substr(md5(x),1,8))::BIGINT)), (acc,h) -> (acc*31+h)%1000000007) AS fp
        |FROM t""".stripMargin,

    "q23_langid" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split_regex(text,'\s+')) AS dw FROM documents),
        |h AS (SELECT doc_id,
        |  CAST(len(list_intersect(dw, ['the','and','of','to','in','is','that','it','with','for'])) AS BIGINT) AS en_hits,
        |  CAST(len(list_intersect(dw, ['el','la','de','que','y','en','un','los','por','con'])) AS BIGINT) AS es_hits,
        |  CAST(len(list_intersect(dw, ['der','die','und','das','ist','von','mit','den','ein','nicht'])) AS BIGINT) AS de_hits,
        |  CAST(len(list_intersect(dw, ['le','la','de','et','un','les','des','en','que','pour'])) AS BIGINT) AS fr_hits
        | FROM t)
        |SELECT doc_id, en_hits, es_hits, de_hits, fr_hits,
        | CASE WHEN en_hits = g AND en_hits > 0 THEN 'en'
        |      WHEN es_hits = g AND es_hits > 0 THEN 'es'
        |      WHEN de_hits = g AND de_hits > 0 THEN 'de'
        |      WHEN fr_hits = g AND fr_hits > 0 THEN 'fr'
        |      ELSE 'und' END AS pred
        |FROM (SELECT *, greatest(en_hits, es_hits, de_hits, fr_hits) AS g FROM h)""".stripMargin,

    "q24_minhash" -> s"WITH $minhashCtes\nSELECT id1, id2, jaccard FROM v WHERE jaccard >= 0.5",

    // signature-position match fraction over the same banded candidates
    // (replays the exact md5 permutation minima, so the estimate is
    // bit-identical across engines)
    "q75_minhash_est" ->
      s"""WITH $minhashCtes,
         |est AS (SELECT cand.id1, cand.id2,
         |    CAST(list_sum(list_transform(generate_series(1, 32),
         |      i -> CASE WHEN s1.sig[i] = s2.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0
         |      AS est_jaccard
         |  FROM cand JOIN sig s1 ON s1.doc_id = cand.id1
         |            JOIN sig s2 ON s2.doc_id = cand.id2)
         |SELECT id1, id2, est_jaccard FROM est WHERE est_jaccard >= 0.5""".stripMargin,

    // components of the q24 pair graph: transitive closure via
    // recursive CTE, component = min reachable id (tiny pair set at
    // oracle scale, so closure blowup is not a concern)
    "q45_components" ->
      s"""WITH RECURSIVE $minhashCtes,
         |$componentsCtes
         |SELECT node, component FROM comp""".stripMargin,

    // same cluster labels as q45; split = md5(cluster-label ++ salt)
    // against cumulative thresholds (8000/9000/otherwise of 10000)
    "q82_cluster_split" ->
      s"""WITH RECURSIVE $minhashCtes,
         |$componentsCtes
         |SELECT doc_id, lang, source,
         |  CASE WHEN h < 8000 THEN 'train'
         |       WHEN h < 9000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT d.doc_id, d.lang, d.source,
         |        ('0x'||substr(md5(CAST(coalesce(c.component, d.doc_id) AS VARCHAR)
         |          || 'split1'),1,8))::BIGINT % 10000 AS h
         |      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)""".stripMargin,

    "q44_scd1" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey % 3 = 0""".stripMargin,

    // corpus minus non-canonical near-dups (node != its component min)
    "q49_drop_near_dups" ->
      s"""WITH RECURSIVE $minhashCtes,
         |$componentsCtes
         |SELECT d.* FROM documents d
         |WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node <> component)""".stripMargin,

    "q47_per_key_limit" ->
      """SELECT * FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) <= 3""".stripMargin,

    "q48_shard_packing" ->
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(text,'\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens,
        | CAST(floor((sum(n_tokens)
        |   OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |   - n_tokens) / 1000.0) AS BIGINT) AS shard
        |FROM t""".stripMargin,

    // same shard rule as q48, then ordered string_agg per shard;
    // sums cast to BIGINT (DuckDB sums integers into HUGEINT).
    // coalesce(text,'') INSIDE the agg: string_agg silently SKIPS
    // nulls while packSequences keeps a null doc's boundary as an
    // empty segment — the corpus has no null texts today, but the
    // oracle must encode the same contract, not rely on the invariant
    "q96_pack_sequences" ->
      """WITH t AS (SELECT doc_id, lang, text,
        |  CAST(len(list_filter(string_split_regex(text,'\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (SELECT *, CAST(floor((sum(n_tokens)
        |  OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |  - n_tokens) / 1000.0) AS BIGINT) AS shard FROM t)
        |SELECT lang, shard,
        |  string_agg(coalesce(text, ''), '<eos>' ORDER BY doc_id) AS sequence,
        |  CAST(sum(n_tokens) AS BIGINT) AS seq_tokens, count(*) AS n_docs
        |FROM s GROUP BY 1, 2""".stripMargin,

    "q46_text_clean" ->
      """WITH t AS (SELECT doc_id, text, string_split_regex(text,'\s+') AS w FROM documents),
        |g AS (SELECT doc_id, text, CASE WHEN len(w) >= 3 THEN
        |        list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |      ELSE [] END AS allg FROM t)
        |SELECT doc_id,
        | lower(trim(regexp_replace(regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))) AS norm,
        | regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |   '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
        | CASE WHEN len(allg) = 0 THEN 0.0
        |      ELSE 1.0 - CAST(len(list_distinct(allg)) AS DOUBLE) / CAST(len(allg) AS DOUBLE) END AS rep_ratio
        |FROM g""".stripMargin,

    // same strip pipeline in RE2: comments, script/style WITH content,
    // tags, entity unescapes (plain replace -- literal patterns, &amp;
    // LAST so double-escapes decode once), whitespace collapse
    "q105_html_strip" ->
      """WITH p AS (SELECT doc_id,
        |  '<html><head><style>p { color: red; }</style><script type="text/js">var x = 1 &amp;&amp; 2;</script></head><!-- crawl id --><body><h1>Doc &amp; title</h1><p class="b">'
        |  || text || '</p><br/>&lt;tail&gt;&nbsp;&#39;end&#39;</body></html>' AS page FROM documents),
        |c AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(page,
        |  '<!--[\s\S]*?-->', ' ', 'g'),
        |  '(?i)<script[^>]*>[\s\S]*?</script>|(?i)<style[^>]*>[\s\S]*?</style>', ' ', 'g'),
        |  '<[^>]*>', ' ', 'g') AS t1 FROM p),
        |u AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t1,
        |  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |  '&#39;', chr(39)), '&amp;', '&') AS t2 FROM c)
        |SELECT doc_id, trim(regexp_replace(t2, '\s+', ' ', 'g')) AS clean FROM u""".stripMargin,

    // bracketed IPv6 literal hosts → NULL (no registered domain), same
    // guard as extractDomain's `!noUser.startsWith("[")`
    "q106_domains" ->
      """WITH d AS (SELECT doc_id,
        |  'https://www.' || source || '.example.com/p/' || doc_id AS url FROM documents),
        |nu AS (SELECT doc_id, regexp_replace(
        |    regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
        |    '^.*@', '') AS h0 FROM d),
        |e AS (SELECT doc_id, CASE WHEN h = '' OR h0 LIKE '[%' THEN NULL ELSE h END AS domain FROM (
        |  SELECT doc_id, h0, regexp_replace(regexp_replace(h0,
        |    ':.*$', ''), '^www\.', '') AS h FROM nu))
        |SELECT domain, count(*) AS n_docs FROM e
        |WHERE domain IS NULL OR domain NOT IN ('src1.example.com', 'src3.example.com')
        |GROUP BY 1""".stripMargin,

    // both engines implement the same Unicode composition tables
    "q107_nfc" ->
      ("SELECT doc_id, nfc_normalize(text || ' café Ångström') AS nfc " +
        "FROM documents"),

    "q25_simhash" ->
      """WITH h AS (SELECT doc_id, list_transform(string_split_regex(text,'\s+'), x -> ('0x'||substr(md5(x),1,8))::BIGINT) AS hs FROM documents)
        |SELECT doc_id, CAST(list_sum(list_transform(generate_series(0,15), i ->
        |   CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> i) % 2 = 1 THEN 1 ELSE -1 END)) > 0
        |        THEN 1 << i ELSE 0 END)) AS BIGINT) AS simhash
        |FROM h""".stripMargin,

    // naive all-pairs: the banded LSH candidates are pigeonhole-
    // complete at maxHamming < bands, so the results must coincide
    "q69_simhash_pairs" ->
      """WITH h AS (SELECT doc_id, list_transform(string_split_regex(text,'\s+'), x -> ('0x'||substr(md5(x),1,8))::BIGINT) AS hs FROM documents),
        |s AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0,15), i ->
        |   CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> i) % 2 = 1 THEN 1 ELSE -1 END)) > 0
        |        THEN 1 << i ELSE 0 END)) AS BIGINT) AS sig FROM h)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 1""".stripMargin,

    // Oracle is the NAIVE all-pairs join on RAW STRING shingle sets —
    // deliberately hash-free: it verifies both the PPJoin-equals-naive
    // claim and that the engine's internal hash choice (xxhash64) is
    // output-invisible (Jaccard over injectively-hashed sets == over
    // string sets).
    "q26_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, lang, string_split_regex(text,'\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, lang, list_distinct(list_transform(generate_series(1, len(w)-2),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM w),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
        |      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id)
        |SELECT id1, id2, jaccard FROM p WHERE jaccard >= 0.5""".stripMargin,

    "q27_embedding_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT qid AS query_id, vec_id AS neighbor_id,
        |   list_dot_product(qv,v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(v,v))) AS cos
        |   FROM q JOIN e ON vec_id <> qid)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS "rank", neighbor_id
        |FROM s QUALIFY "rank" <= 5""".stripMargin,

    // replays the two-stage algorithm exactly: int8 quantization
    // (round half-away-from-zero in both engines; float→double
    // promotion order mirrored), integer coarse cosine, 20-candidate
    // cut, exact double re-rank — id tie-breaks at every stage
    "q112_quantized_topk" ->
      """WITH e AS (SELECT vec_id, embedding AS f,
        |    list_max(list_transform(embedding, x -> abs(x))) AS ma FROM embeddings),
        |z AS (SELECT vec_id, f,
        |    CASE WHEN ma = 0 THEN list_transform(f, x -> 0)
        |         ELSE list_transform(f, x -> CAST(round(x * 127.0 / ma) AS INTEGER)) END AS q
        |  FROM e),
        |zn AS (SELECT vec_id, f, q,
        |    sqrt(CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT) * x)) AS DOUBLE)) AS nq
        |  FROM z),
        |qs AS (SELECT vec_id AS query_id, f AS qf, q AS qq, nq AS qn
        |  FROM zn WHERE vec_id < 5),
        |coarse AS (SELECT query_id, zn.vec_id AS neighbor_id, zn.f AS nf,
        |    CASE WHEN qn * zn.nq = 0 THEN 0.0
        |         ELSE CAST(list_sum(list_transform(range(1, len(qq) + 1),
        |                i -> CAST(qq[i] AS BIGINT) * zn.q[i])) AS DOUBLE) / (qn * zn.nq)
        |    END AS qcos, qf
        |  FROM qs JOIN zn ON zn.vec_id <> query_id),
        |cand AS (SELECT query_id, neighbor_id, nf, qf FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY qcos DESC, neighbor_id) AS crank FROM coarse)
        |  WHERE crank <= 20),
        |r AS (SELECT query_id, neighbor_id,
        |    CASE WHEN sqrt(list_dot_product(qf::DOUBLE[], qf::DOUBLE[])) *
        |              sqrt(list_dot_product(nf::DOUBLE[], nf::DOUBLE[])) = 0 THEN 0.0
        |         ELSE list_dot_product(qf::DOUBLE[], nf::DOUBLE[]) /
        |      (sqrt(list_dot_product(qf::DOUBLE[], qf::DOUBLE[])) *
        |       sqrt(list_dot_product(nf::DOUBLE[], nf::DOUBLE[]))) END AS cos
        |  FROM cand)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS "rank", neighbor_id
        |FROM r QUALIFY "rank" <= 5""".stripMargin,

    "q28_multimodal" ->
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        | md5(text) AS digest,
        | ('0x'||substr(md5(text),1,8))::BIGINT % 256 AS feature0
        |FROM documents""".stripMargin,

    "q31_roundtrip" -> "SELECT * FROM nation",

    "q70_orc_roundtrip" -> "SELECT r_regionkey, r_name FROM region",

    // layout-only operator: the written rows ARE the source rows
    "q83_zorder_roundtrip" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders",

    // codec is storage-only: content equals the source table
    "q103_zstd_roundtrip" -> "SELECT * FROM supplier",

    // pre-evolution rows carry null for the later column
    "q97_schema_evolution" ->
      """SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey
        |FROM nation WHERE n_nationkey < 10
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey
        |FROM nation WHERE n_nationkey >= 10""".stripMargin,

    // partition pruning is layout-only: content equals a plain filter
    "q91_partitioned_scan" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang IN ('en', 'de')""".stripMargin,

    // DPP is execution-strategy-only: content equals the plain join
    "q92_dynamic_pruning" ->
      """SELECT f.o_orderpriority, d.o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders f
        |JOIN (SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders
        |      WHERE o_orderstatus = 'F') d USING (o_orderpriority)
        |GROUP BY 1, 2""".stripMargin,

    "q71_text_roundtrip" -> "SELECT text AS value FROM documents",

    "q77_xml_roundtrip" -> "SELECT * FROM nation",

    // global rank by (quality DESC, doc_id), first ceil(0.3*n) survive
    // — the histogram implementation must reproduce the rank-defined
    // set exactly (same score expression as q62's oracle)
    "q78_quality_topfrac" ->
      """WITH t AS (SELECT doc_id, lang, source, text,
        |    list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS w FROM documents),
        |q AS (SELECT doc_id, lang, source,
        |   0.4 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
        |   + 0.3 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END)
        |   + 0.3 * (CASE WHEN len(w) = 0 THEN 0.0 ELSE CAST(len(list_filter(w, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by','be','this','that','from'], x))) AS DOUBLE) / CAST(len(w) AS DOUBLE) END) AS q
        |  FROM t),
        |nn AS (SELECT * FROM q WHERE q IS NOT NULL),
        |lim AS (SELECT CAST(ceil(0.3 * count(*)) AS BIGINT) AS n FROM nn)
        |SELECT doc_id, lang, source FROM nn
        |QUALIFY row_number() OVER (ORDER BY q DESC, doc_id) <= (SELECT n FROM lim)""".stripMargin,

    // same quality-score replay as q78; best-per-text via window
    // rank (DESC NULLS LAST matches Spark's desc_nulls_last)
    "q98_dedup_best" ->
      """WITH t AS (SELECT doc_id, lang, source, text,
        |    list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS w FROM documents),
        |q AS (SELECT doc_id, lang, source, text,
        |   0.4 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
        |   + 0.3 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END)
        |   + 0.3 * (CASE WHEN len(w) = 0 THEN 0.0 ELSE CAST(len(list_filter(w, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by','be','this','that','from'], x))) AS DOUBLE) / CAST(len(w) AS DOUBLE) END) AS q
        |  FROM t)
        |SELECT doc_id, lang, source FROM q
        |QUALIFY row_number() OVER (PARTITION BY lang, source
        |  ORDER BY (CASE WHEN isnan(q) THEN NULL ELSE q END) DESC NULLS LAST,
        |           doc_id) = 1""".stripMargin,

    // per-language rank against the per-language ceil(0.4*count)
    "q79_quality_topfrac_perkey" ->
      """WITH t AS (SELECT doc_id, lang, source, text,
        |    list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS w FROM documents),
        |q AS (SELECT doc_id, lang, source,
        |   0.4 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
        |   + 0.3 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END)
        |   + 0.3 * (CASE WHEN len(w) = 0 THEN 0.0 ELSE CAST(len(list_filter(w, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by','be','this','that','from'], x))) AS DOUBLE) / CAST(len(w) AS DOUBLE) END) AS q
        |  FROM t)
        |SELECT doc_id, lang, source FROM q WHERE q IS NOT NULL
        |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id)
        |  <= ceil(0.4 * count(*) OVER (PARTITION BY lang))""".stripMargin,

    "q72_jdbc_roundtrip" -> "SELECT * FROM nation",

    // evens kept their seeded name (UPDATE only moves s_acctbal);
    // odds arrived via the INSERT path carrying both shifted columns
    "q104_jdbc_upsert" ->
      """SELECT s_suppkey,
        | CASE WHEN s_suppkey % 2 = 0 THEN s_name
        |      ELSE s_name || '_v2' END AS s_name,
        | s_nationkey,
        | s_acctbal + 100.0 AS s_acctbal
        |FROM supplier""".stripMargin,

    "q73_dag_retry" ->
      "SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY 1",

    // the micro-batch interval join must equal the plain batch join
    // (the gate watermark is large enough that nothing is evicted)
    "q74_stream_join" ->
      """SELECT a.user_id, a.event_id AS l_id, a.ts AS l_ts,
        | b.event_id AS r_id, b.ts AS r_ts
        |FROM events a JOIN events b
        | ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'view'
        | AND b.ts >= a.ts - INTERVAL 2 HOUR
        | AND b.ts <= a.ts + INTERVAL 2 HOUR""".stripMargin,

    // LSH buckets are deterministic md5-derived constants — inline the
    // same hyperplane matrix the Spark side uses (Similarity.planesFor)
    // so the approximate ANN path is fully oracle-checked too.
    "q30_ann_lsh" -> {
      val planes = graft.llm.Similarity.planesFor(6, 64)
      val bucketExpr = planes.zipWithIndex.map { case (pl, p) =>
        val arr = pl.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |bkt AS (SELECT vec_id, v, $bucketExpr AS b FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, b FROM bkt WHERE vec_id < 50),
         |s AS (SELECT qid AS query_id, c.vec_id AS neighbor_id,
         |   list_dot_product(qv,c.v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(c.v,c.v))) AS cos
         |   FROM q JOIN bkt c ON q.b = c.b AND c.vec_id <> q.qid)
         |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS "rank", neighbor_id
         |FROM s QUALIFY "rank" <= 3""".stripMargin
    },

    // identical to the unsalted join — the salt must not change results
    "q51_salted_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "q52_pipeline" ->
      """SELECT c_custkey, c_name, c_acctbal, lower(c_mktsegment) AS c_mktsegment,
        | CASE WHEN c_acctbal > 5000 THEN 'gold' ELSE 'basic' END AS tier
        |FROM customer WHERE c_acctbal > 0""".stripMargin,

    // corpus docs sharing any distinct 3-gram with the src0 benchmark
    // (60-bit md5 prefix — see Dedup.contaminationHits on collisions)
    "q53_decontaminate" ->
      """WITH w AS (SELECT doc_id, source, string_split_regex(text,'\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, source, list_transform(list_distinct(list_transform(generate_series(1, len(w)-2),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])),
        |        s -> ('0x'||substr(md5(s),1,15))::BIGINT) AS sh FROM w),
        |bench AS (SELECT DISTINCT unnest(sh) AS h FROM sh WHERE source = 'src0'),
        |cg AS (SELECT doc_id, unnest(sh) AS h FROM sh WHERE source <> 'src0')
        |SELECT doc_id, count(*) AS n_hits
        |FROM cg JOIN bench USING (h) GROUP BY doc_id""".stripMargin,

    // chunk into 8-token lines, keep each line's corpus-wide first
    // occurrence (by doc_id, then position), reassemble in order
    "q54_line_dedup" ->
      """WITH w AS (SELECT doc_id, string_split_regex(text,'\s+') AS w FROM documents),
        |c AS (SELECT doc_id, list_transform(generate_series(0, CAST(floor((len(w)-1)/8) AS INT)),
        |        i -> array_to_string(w[i*8+1 : i*8+8], ' ')) AS ls FROM w WHERE len(w) >= 1),
        |l AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)),
        |        i -> {'pos': i, 'ln': ls[i]}), recursive := true) FROM c),
        |k AS (SELECT doc_id, pos, ln FROM l
        |      QUALIFY row_number() OVER (PARTITION BY ln ORDER BY doc_id, pos) = 1)
        |SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS text
        |FROM k GROUP BY doc_id""".stripMargin,

    "q55_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text,'\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, term, tf, df, CAST(tf AS DOUBLE)/CAST(df AS DOUBLE) AS score,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |       ORDER BY CAST(tf AS DOUBLE)/CAST(df AS DOUBLE) DESC, term) AS BIGINT) AS "rank"
        |FROM tf JOIN dfc USING (term) QUALIFY "rank" <= 5""".stripMargin,

    // same tf/df relations as q55; rare = corpus df below the cutoff
    "q109_rare_tokens" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text,'\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |j AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |        CAST(sum(CASE WHEN df < 3 THEN tf ELSE 0 END) AS BIGINT) AS n_rare
        |      FROM tf JOIN dfc USING (term) GROUP BY 1)
        |SELECT doc_id, n_tokens, n_rare,
        |  CASE WHEN n_tokens = 0 THEN 0.0
        |       ELSE CAST(n_rare AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS rare_ratio
        |FROM j""".stripMargin,

    // keyed GroupState running counts are monotone; their max per key
    // IS the final count, which must equal the batch aggregate
    "q90_stream_state" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY 1",

    // every event flows through the foreachBatch writes exactly once
    "q102_stream_foreachbatch" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY 1",

    // the micro-batch enrichment must equal the batch join exactly
    "q101_stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin,

    // append mode through the file-backed bridge: only windows the
    // FINAL watermark (max ts − 1 h) closed are emitted — eviction is
    // `window.end <= watermark`, and no whole-hour boundary can tie the
    // sub-millisecond-noise watermark exactly, so strict `<` matches;
    // hour windows are epoch-aligned = date_trunc
    "q56_stream_hourly" ->
      """WITH agg AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2)
        |SELECT hour, event_type, n, total_value FROM agg
        |WHERE hour + INTERVAL 1 HOUR < (SELECT max(ts) - INTERVAL 1 HOUR FROM events)""".stripMargin,

    "q57_incremental" ->
      """SELECT * FROM documents
        |WHERE md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id % 7 = 0)""".stripMargin,

    "q58_hash_sample" ->
      """SELECT * FROM documents
        |WHERE ('0x'||substr(md5(doc_id::VARCHAR || 's1'),1,8))::BIGINT % 10 < 3""".stripMargin,

    // the k globally smallest salted hashes, hash collisions broken by
    // the key — a total order, so the SET is engine-independent
    "q108_exact_k" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY ('0x'||substr(md5(doc_id::VARCHAR || 'ev'),1,8))::BIGINT, doc_id
        |LIMIT 150""".stripMargin,

    // h < rate · weight · 2^32 — both sides promote to double; the
    // 32-bit hash is exactly representable, so the compare replays
    // bit-identically in any IEEE engine
    "q84_weighted_sample" ->
      """SELECT * FROM documents
        |WHERE ('0x'||substr(md5(doc_id::VARCHAR || 'w1'),1,8))::BIGINT
        |  < (0.002::DOUBLE * n_chars::DOUBLE) * 4294967296.0""".stripMargin,

    // bloom prune is performance-only: the result is the plain anti
    // join. NOT EXISTS (not NOT IN) so null texts survive like Spark's
    // left_anti does
    "q81_bloom_incremental" ->
      """SELECT * FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM documents s
        |                  WHERE s.doc_id % 5 = 0 AND s.text = d.text)""".stripMargin,

    // per-stratum thresholds over the same md5 rule; es has no
    // threshold (NULL) and drops out entirely
    "q80_stratified_hash" ->
      """SELECT * FROM documents
        |WHERE ('0x'||substr(md5(doc_id::VARCHAR || 'mix1'),1,8))::BIGINT % 10000
        |  < CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 10000
        |              WHEN 'fr' THEN 5000 WHEN 'zh' THEN 0 END""".stripMargin,

    "q63_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           | count(DISTINCT $c) AS n_distinct FROM orders""".stripMargin)
        .mkString("\nUNION ALL\n")
    },

    // from_json(to_json(x)) == x for the selected columns
    "q64_json_flatten" ->
      "SELECT event_id, event_type, user_id, value, props FROM events",

    // decimal revenue folds exactly in any order; one double cast at
    // the end — hash-identical across engines
    "q100_star_revenue" ->
      """SELECT n_name, c_mktsegment, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |   AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus <> 'P'
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin,

    // double -> string -> double roundtrips losslessly in both
    // engines (shortest-roundtrip rendering), so good rows carry the
    // ORIGINAL price value; unparsable rows leave via the error frame
    "q99_collect_errors" ->
      """SELECT o_orderkey, o_totalprice AS price FROM orders
        |WHERE o_orderkey % 7 <> 0""".stripMargin,

    // struct layout is scan-only: content equals the flat projection
    "q94_nested_pruning" -> "SELECT event_id, value FROM events",

    // same footer injection, then line doc-frequencies; the threshold
    // ceil replays Spark's double product (0.2::DOUBLE)
    "q95_boilerplate" ->
      """WITH docs AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || 'SHARED FOOTER'
        |       ELSE text END AS text, lang FROM documents),
        |n AS (SELECT count(*) AS c FROM docs WHERE text IS NOT NULL),
        |base AS (SELECT doc_id, string_split(text, chr(10)) AS lst
        |         FROM docs WHERE text IS NOT NULL),
        |l AS (SELECT doc_id, lst[i] AS line, i
        |      FROM base, UNNEST(generate_series(1, len(lst))) AS t(i)),
        |freq AS (SELECT line FROM
        |  (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY 1) f, n
        |  WHERE f.df >= ceil(0.2::DOUBLE * n.c)),
        |kept AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM freq)),
        |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS t2
        |      FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(r.t2, '') END AS text,
        |  d.lang
        |FROM docs d LEFT JOIN r USING (doc_id)""".stripMargin,

    // discrete median/MAD at rank ceil(n/2), replayed with the same
    // window arithmetic as the Spark side (q66's percentile recipe)
    "q86_mad_outliers" ->
      """WITH v AS (SELECT event_id, event_type, value FROM events
        |           WHERE value IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS n FROM v),
        |med AS (SELECT event_type, value AS med FROM r WHERE rn = ceil(0.5*n)),
        |d AS (SELECT v.*, abs(v.value::DOUBLE - med.med::DOUBLE) AS dev
        |      FROM v JOIN med USING (event_type)),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn2,
        |              count(*) OVER (PARTITION BY event_type) AS n2 FROM d),
        |mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn2 = ceil(0.5*n2))
        |SELECT d.event_id, d.event_type, d.value FROM d JOIN mad USING (event_type)
        |WHERE d.dev <= 3.0::DOUBLE * mad.mad""".stripMargin,

    // lag marks session starts (strict > gap), running sum numbers
    // them; ties share the default RANGE frame in both engines
    "q89_sessionize" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CASE WHEN prev IS NULL OR t - prev > 1800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY t) AS BIGINT) AS session_id
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS t,
        |        lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
        |      FROM events)""".stripMargin,

    // exact decimal Σx/Σx² per partition → one deterministic double
    // mean/sqrt each side; the variance guard branches on the SAME
    // double, so both engines take the same null path
    "q88_normalize" ->
      """SELECT event_id, event_type, value,
        |  CASE WHEN n = 0 OR (sx2 / n - (sx / n) * (sx / n)) <= 0 THEN NULL
        |       ELSE (value::DOUBLE - sx / n)
        |            / sqrt(sx2 / n - (sx / n) * (sx / n)) END AS z,
        |  CASE WHEN hi = lo THEN NULL
        |       ELSE (value::DOUBLE - lo) / (hi - lo) END AS mm
        |FROM (SELECT event_id, event_type, value,
        |        CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sx,
        |        CAST(sum(CAST(value AS DECIMAL(18,4))
        |                 * CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sx2,
        |        count(value) OVER w AS n,
        |        min(value::DOUBLE) OVER w AS lo,
        |        max(value::DOUBLE) OVER w AS hi
        |      FROM events
        |      WINDOW w AS (PARTITION BY event_type))""".stripMargin,

    // RANGE frame over epoch micros; decimal window sum is exact and
    // order-independent, so the double surfaces hash-identically
    "q87_rolling_time" ->
      """SELECT event_id, user_id,
        | count(*) OVER w AS roll_n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |   / count(value) OVER w AS roll_mean
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    // same window formula as the Spark side: non-null values ranked,
    // rank ceil(p*n) computed in decimal (exact, no double drift)
    "q66_percentiles" ->
      """WITH r AS (SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT l_returnflag, CAST(v.p AS DOUBLE) AS p, l_extendedprice AS price_at_p
        |FROM r CROSS JOIN (VALUES (0.5), (0.9), (0.99)) v(p)
        |WHERE rn = CAST(ceil(CAST(v.p AS DECIMAL(18,12)) * n) AS INT)""".stripMargin,

    "q67_string_agg" ->
      """SELECT n_regionkey, string_agg(n_name, '|' ORDER BY n_name) AS nations
        |FROM nation GROUP BY 1""".stripMargin,

    "q65_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(rank() OVER w AS BIGINT) AS rnk,
        | CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        | lag(o_totalprice, 1) OVER w AS prev_price,
        | lead(o_totalprice, 1) OVER w AS next_price,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    // chunk i covers tokens [(i)*step+1, i*step+chunkTokens], step=40
    "q61_chunking" ->
      """WITH w AS (SELECT doc_id, string_split_regex(text,'\s+') AS w FROM documents),
        |c AS (SELECT doc_id, w, CASE WHEN len(w) <= 50 THEN 1
        |        ELSE CAST(ceil((len(w) - 50) / 40.0) AS INT) + 1 END AS nc FROM w),
        |l AS (SELECT doc_id, unnest(list_transform(generate_series(1, nc),
        |        i -> {'chunk_id': i - 1,
        |              'chunk': array_to_string(w[(i-1)*40+1 : (i-1)*40+50], ' ')}),
        |        recursive := true) FROM c)
        |SELECT doc_id, chunk_id, chunk FROM l""".stripMargin,

    // normalize -> quality>0.5 & lang='en' -> exact dedup -> 80%
    // deterministic sample -> <=50 docs per source (formulas mirror the
    // q22 quality / q23 langid oracles over the NORMALIZED text)
    "q62_corpus_pipeline" ->
      """WITH nrm AS (SELECT doc_id,
        |   lower(trim(regexp_replace(regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))) AS text,
        |   lang, source FROM documents),
        |t AS (SELECT *, list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS w FROM nrm),
        |q AS (SELECT *,
        |   0.4 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
        |   + 0.3 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END)
        |   + 0.3 * (CASE WHEN len(w) = 0 THEN 0.0 ELSE CAST(len(list_filter(w, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by','be','this','that','from'], x))) AS DOUBLE) / CAST(len(w) AS DOUBLE) END) AS quality,
        |   list_distinct(w) AS dw FROM t),
        |h AS (SELECT *,
        |  len(list_intersect(dw, ['the','and','of','to','in','is','that','it','with','for'])) AS en_hits,
        |  len(list_intersect(dw, ['el','la','de','que','y','en','un','los','por','con'])) AS es_hits,
        |  len(list_intersect(dw, ['der','die','und','das','ist','von','mit','den','ein','nicht'])) AS de_hits,
        |  len(list_intersect(dw, ['le','la','de','et','un','les','des','en','que','pour'])) AS fr_hits
        | FROM q),
        |lg AS (SELECT *, CASE WHEN en_hits = g AND en_hits > 0 THEN 'en'
        |      WHEN es_hits = g AND es_hits > 0 THEN 'es'
        |      WHEN de_hits = g AND de_hits > 0 THEN 'de'
        |      WHEN fr_hits = g AND fr_hits > 0 THEN 'fr'
        |      ELSE 'und' END AS pred
        | FROM (SELECT *, greatest(en_hits, es_hits, de_hits, fr_hits) AS g FROM h)),
        |kept AS (SELECT doc_id, text, lang, source FROM lg WHERE quality > 0.5 AND pred = 'en'),
        |ded AS (SELECT * FROM kept QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
        |smp AS (SELECT * FROM ded WHERE ('0x'||substr(md5(doc_id::VARCHAR || 'mix'),1,8))::BIGINT % 10 < 8)
        |SELECT doc_id, text, lang, source FROM smp
        |QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 50""".stripMargin,

    // bucketing must not change join results
    // bucket layout is execution-only: content equals a plain groupBy
    "q93_bucketed_agg" ->
      """SELECT l_orderkey, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q59_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    // sliding windows: each event lands in width/slide = 2 windows
    // (same epoch-aligned micros arithmetic as the q50 batch oracle);
    // append mode through the file-backed bridge — same final-watermark
    // cutoff as q56 (strict `<`: window ends are slide-aligned marks,
    // the watermark carries sub-millisecond noise, no exact ties)
    "q60_stream_sliding" ->
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
        |  (SELECT max(ts) - INTERVAL 1 HOUR FROM events)""".stripMargin,

    // each event lands in width/slide = 2 windows whose starts are the
    // two slide-aligned marks in (ts − width, ts]; micros arithmetic
    // mirrors Spark's window() epoch alignment exactly
    "q50_sliding_window" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |w AS (SELECT event_type, (us // 1800000000 - r.i) * 1800000000 AS ws
        |      FROM e CROSS JOIN range(2) r(i)
        |      WHERE us >= (us // 1800000000 - r.i) * 1800000000
        |        AND us < (us // 1800000000 - r.i) * 1800000000 + 3600000000)
        |SELECT make_timestamp(ws) AS w_start,
        |       make_timestamp(ws + 3600000000) AS w_end,
        |       event_type, count(*) AS n
        |FROM w GROUP BY 1, 2, 3""".stripMargin,

    "q32_session_window" ->
      """WITH m AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |          OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin,

    // batch sessions (same CTE as q32) restricted to those the final
    // streaming watermark (max ts − 1 h) closed — append mode emits a
    // session only once the watermark passes its end. Boundary note:
    // the strict `<` matches because every fixture ts carries random
    // sub-millisecond digits, so no session end can tie the watermark
    // exactly; a regenerated second-aligned fixture could hit the tie,
    // where Spark's eviction is `end <= watermark` — flip to `<=` then.
    "q76_stream_session" ->
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
        |WHERE session_end < (SELECT max(ts) - INTERVAL 1 HOUR FROM events)""".stripMargin,

    // streaming dedup emits each key's first occurrence exactly once:
    // the dedup key includes the hour column and the feed is
    // range-chunked on it, so no key can span micro-batches (no
    // re-admission after state eviction) — the output is exactly the
    // distinct key set
    "q110_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type,
        |  CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr
        |FROM events""".stripMargin,

    // the materialized table after the full I/U/D feed: every order
    // INSERTed (v1), every %3 key UPDATEd to price+10 (v2), every %7
    // key DELETEd (v3) — version-gated merge makes batch order
    // irrelevant, so the oracle is the final state in closed form
    "q111_change_stream" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(CASE WHEN o_orderkey % 3 = 0
        |       THEN CAST(o_totalprice AS DECIMAL(18,2)) + 10.00
        |       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin,

    // re-entry converges to the same fold as the one-shot feed: the
    // second materialize() applies only the U/D delta onto the
    // recovered insert snapshot
    "q113_change_stream_reentry" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(CASE WHEN o_orderkey % 3 = 0
        |       THEN CAST(o_totalprice AS DECIMAL(18,2)) + 10.00
        |       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin,

    // mode per doc via (count desc, gram asc) — matches the Spark
    // sorted-run scan's strictly-greater update (first max-count gram
    // in lexicographic order); docs shorter than n grams score 0
    "q114_repetition" ->
      """WITH t AS (SELECT doc_id, length(text) AS L,
        |             string_split_regex(text,'\s+') AS w FROM documents),
        |g2 AS (SELECT doc_id, L, unnest(list_transform(range(1, len(w)),
        |         i -> w[i] || ' ' || w[i+1])) AS gram FROM t WHERE len(w) >= 2),
        |g3 AS (SELECT doc_id, L, unnest(list_transform(range(1, len(w)-1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        |       FROM t WHERE len(w) >= 3),
        |g5 AS (SELECT doc_id, L, unnest(list_transform(range(1, len(w)-3),
        |         i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS gram
        |       FROM t WHERE len(w) >= 5),
        |top2 AS (SELECT doc_id, f FROM (
        |  SELECT doc_id, CAST(count(*)*length(gram) AS DOUBLE)/L AS f,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY count(*) DESC, gram ASC) AS rn
        |  FROM g2 GROUP BY doc_id, L, gram) WHERE rn = 1),
        |top3 AS (SELECT doc_id, f FROM (
        |  SELECT doc_id, CAST(count(*)*length(gram) AS DOUBLE)/L AS f,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY count(*) DESC, gram ASC) AS rn
        |  FROM g3 GROUP BY doc_id, L, gram) WHERE rn = 1),
    |dup5 AS (SELECT doc_id,
        |    CAST(coalesce(sum(c*glen) FILTER (WHERE c >= 2), 0) AS DOUBLE)/L AS f
        |  FROM (SELECT doc_id, L, length(gram) AS glen, count(*) AS c
        |        FROM g5 GROUP BY doc_id, L, gram) GROUP BY doc_id, L)
        |SELECT t.doc_id, coalesce(top2.f, 0.0) AS top2_frac,
        |  coalesce(top3.f, 0.0) AS top3_frac, coalesce(dup5.f, 0.0) AS dup5_frac
        |FROM t LEFT JOIN top2 USING (doc_id) LEFT JOIN top3 USING (doc_id)
        |  LEFT JOIN dup5 USING (doc_id)""".stripMargin,

    // transport is the operator under test: content is just nation
    "q115_http_source" -> "SELECT * FROM nation",

    // replays the q116 pixel formula without decoding — the Spark side
    // must recover these exact values through PNG encode -> imageio
    // decode -> integer gray -> neighbor compare
    "q116_image_dhash" ->
      """SELECT doc_id, string_agg(
        |    CASE WHEN (doc_id*31 + (x+1)*7 + y*13) % 256
        |            > (doc_id*31 + x*7 + y*13) % 256
        |         THEN '1' ELSE '0' END, '' ORDER BY y, x) AS dhash
        |FROM documents, range(0, 8) t1(y), range(0, 8) t2(x)
        |GROUP BY doc_id""".stripMargin,

    // replays the q117 sample formula without decoding: per-bucket
    // mean |amplitude| vs clip mean by integer cross-multiplication
    // (samples are non-negative, so |amp| = amp)
    "q117_audio_fingerprint" ->
      """WITH s AS (SELECT doc_id, (doc_id*7 + i*13) % 4096 AS amp,
        |    (i*64)//1024 AS b
        |  FROM documents, range(0, 1024) t(i)),
        |bs AS (SELECT doc_id, b, sum(amp) AS sb, count(*) AS cb
        |       FROM s GROUP BY 1, 2),
        |g AS (SELECT doc_id, sum(amp) AS sg, count(*) AS cg
        |      FROM s GROUP BY 1)
        |SELECT doc_id,
        |  string_agg(CASE WHEN sb*cg > sg*cb THEN '1' ELSE '0' END,
        |             '' ORDER BY b) AS fp,
        |  CAST(1024 AS BIGINT) AS n_frames
        |FROM bs JOIN g USING (doc_id) GROUP BY doc_id""".stripMargin,

    // mirrors bm25TopK's exact IEEE expression tree: rational idf,
    // constants as shortest-round-trip DOUBLE literals (the e0 suffix
    // forces DOUBLE parse — a DECIMAL literal would double-round
    // through int128/10^scale), and the per-(query,doc) sum as a fold
    // over terms in binary order (list_reduce over list(... ORDER BY
    // term)); Spark's fold seeds 0.0, which is additive-identity-exact
    // for the strictly positive term scores
    "q118_bm25_topk" -> {
      val k1 = 1.2; val b = 0.75
      s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(text,'\\s+')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(sum(dl) AS BIGINT) AS total_tokens FROM dl),
         |qt AS (SELECT DISTINCT doc_id AS query_id,
         |         unnest(list_slice(string_split_regex(text,'\\s+'), 1, 8)) AS term
         |       FROM documents WHERE doc_id % 100 = 0 AND doc_id < 1000),
         |qs AS (SELECT DISTINCT term FROM qt),
         |post AS (SELECT tf.doc_id, tf.term, tf.tf FROM tf JOIN qs USING (term)),
         |dfm AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1),
         |sc AS (SELECT post.doc_id, post.term,
         |         ((CAST(n_docs - df AS DOUBLE) + 0.5e0) / (CAST(df AS DOUBLE) + 0.5e0))
         |         * ((CAST(tf AS DOUBLE) * ${k1 + 1.0}e0)
         |            / (CAST(tf AS DOUBLE) + ${k1}e0 *
         |               (${1.0 - b}e0 + ${b}e0 * (CAST(dl AS DOUBLE)
         |                / (CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)))))) AS s
         |       FROM post JOIN dfm USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
         |agg AS (SELECT query_id, doc_id,
         |          list_reduce(list(s ORDER BY term), (a, x) -> a + x) AS score
         |        FROM qt JOIN sc USING (term) GROUP BY 1, 2)
         |SELECT query_id, doc_id, score,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |       ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |FROM agg QUALIFY rank <= 10""".stripMargin
    },

    // composes the q118 BM25 pipeline (k=10) with the q27-style
    // brute-force cosine ANN (k=10, same query ids) and fuses by
    // 1/(60+rank) per source, folded in source order — every
    // contribution one IEEE division, same ordered-fold determinism
    // as q118's score sum
    "q120_hybrid_rrf" -> {
      val k1 = 1.2; val b = 0.75
      s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(text,'\\s+')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(sum(dl) AS BIGINT) AS total_tokens FROM dl),
         |qt AS (SELECT DISTINCT doc_id AS query_id,
         |         unnest(list_slice(string_split_regex(text,'\\s+'), 1, 8)) AS term
         |       FROM documents WHERE doc_id % 100 = 0 AND doc_id < 1000),
         |qs AS (SELECT DISTINCT term FROM qt),
         |post AS (SELECT tf.doc_id, tf.term, tf.tf FROM tf JOIN qs USING (term)),
         |dfm AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1),
         |sc AS (SELECT post.doc_id, post.term,
         |         ((CAST(n_docs - df AS DOUBLE) + 0.5e0) / (CAST(df AS DOUBLE) + 0.5e0))
         |         * ((CAST(tf AS DOUBLE) * ${k1 + 1.0}e0)
         |            / (CAST(tf AS DOUBLE) + ${k1}e0 *
         |               (${1.0 - b}e0 + ${b}e0 * (CAST(dl AS DOUBLE)
         |                / (CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)))))) AS s
         |       FROM post JOIN dfm USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
         |bagg AS (SELECT query_id, doc_id,
         |           list_reduce(list(s ORDER BY term), (a, x) -> a + x) AS score
         |         FROM qt JOIN sc USING (term) GROUP BY 1, 2),
         |bmr AS (SELECT query_id, doc_id AS id,
         |          CAST(row_number() OVER (PARTITION BY query_id
         |               ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |        FROM bagg QUALIFY rank <= 10),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e
         |      WHERE vec_id % 100 = 0 AND vec_id < 1000),
         |s2 AS (SELECT qid AS query_id, vec_id AS id,
         |    list_dot_product(qv,v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(v,v))) AS cos
         |  FROM q JOIN e ON vec_id <> qid),
         |annr AS (SELECT query_id, id,
         |           CAST(row_number() OVER (PARTITION BY query_id
         |                ORDER BY cos DESC, id) AS BIGINT) AS rank
         |         FROM s2 QUALIFY rank <= 10),
         |u AS (SELECT query_id, id, 0 AS src,
         |        1.0e0 / (60.0e0 + CAST(rank AS DOUBLE)) AS s FROM bmr
         |      UNION ALL
         |      SELECT query_id, id, 1 AS src,
         |        1.0e0 / (60.0e0 + CAST(rank AS DOUBLE)) AS s FROM annr),
         |f AS (SELECT query_id, id,
         |        list_reduce(list(s ORDER BY src), (a, x) -> a + x) AS rrf
         |      FROM u GROUP BY 1, 2)
         |SELECT query_id, id AS doc_id, rrf,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |       ORDER BY rrf DESC, id) AS BIGINT) AS rank
         |FROM f QUALIFY rank <= 10""".stripMargin
    },

    // replays the identical regex chain (RE2 \1 refs + 'g' where Java
    // is implicitly global); construction and every rule mirrored
    "q125_url_canonical" ->
      """WITH u AS (SELECT doc_id,
        |  'HTTP://WWW.Example' || CAST(doc_id % 50 AS VARCHAR) || '.COM:80/Path/' ||
        |  CAST(doc_id % 7 AS VARCHAR) || '?utm_source=feed&id=' ||
        |  CAST(doc_id % 20 AS VARCHAR) || '&utm_campaign=x#sec' ||
        |  CAST(doc_id AS VARCHAR) AS url FROM documents),
        |c1 AS (SELECT doc_id, url, regexp_replace(trim(url), '#.*$', '', 'g') AS v FROM u),
        |c2 AS (SELECT doc_id, url,
        |        lower(regexp_extract(v, '^[^/]*//[^/?#]*')) ||
        |        regexp_replace(v, '^[^/]*//[^/?#]*', '', 'g') AS v FROM c1),
        |c3 AS (SELECT doc_id, url, regexp_replace(v, '^(http://[^/?#:]+):80([/?#])', '\1\2', 'g') AS v FROM c2),
        |c4 AS (SELECT doc_id, url, regexp_replace(v, '^(http://[^/?#:]+):80$', '\1', 'g') AS v FROM c3),
        |c5 AS (SELECT doc_id, url, regexp_replace(v, '^(https://[^/?#:]+):443([/?#])', '\1\2', 'g') AS v FROM c4),
        |c6 AS (SELECT doc_id, url, regexp_replace(v, '^(https://[^/?#:]+):443$', '\1', 'g') AS v FROM c5),
        |c7 AS (SELECT doc_id, url, regexp_replace(v, '^(https?://)www\.', '\1', 'g') AS v FROM c6),
        |c8 AS (SELECT doc_id, url, regexp_replace(v, '([?&])(utm_[^&=#]*|gclid|fbclid)=[^&#]*', '\1', 'g') AS v FROM c7),
        |c9 AS (SELECT doc_id, url, regexp_replace(v, '&{2,}', '&', 'g') AS v FROM c8),
        |c10 AS (SELECT doc_id, url, regexp_replace(v, '\?&', '?', 'g') AS v FROM c9),
        |c11 AS (SELECT doc_id, url, regexp_replace(v, '[?&]+$', '', 'g') AS v FROM c10)
        |SELECT doc_id, url, regexp_replace(v, '/$', '', 'g') AS canon FROM c11""".stripMargin,

    // replays every pinned definition: whitespace words, non-space
    // char sum, non-overlapping #/.../… symbols, bullet/ellipsis line
    // regexes, \p{L} alphabetic, DISTINCT stopword intersect — all
    // rule tests integer cross-multiplications
    "q124_gopher_rules" ->
      """WITH b AS (SELECT doc_id, coalesce(text, '') AS tx FROM documents),
        |c AS (SELECT doc_id,
        |        string_split_regex(tx, '\s+') AS t,
        |        CAST(length(regexp_replace(tx, '\s+', '', 'g')) AS BIGINT) AS sl,
        |        CAST(len(regexp_extract_all(tx, '#|\.{3}|…')) AS BIGINT) AS syms,
        |        string_split(tx, chr(10)) AS ln
        |      FROM b),
        |d AS (SELECT doc_id,
        |        CAST(len(t) AS BIGINT) AS words, sl, syms,
        |        CAST(len(ln) AS BIGINT) AS nl,
        |        CAST(len(list_filter(ln, l -> regexp_matches(l, '^\s*[-*•]'))) AS BIGINT) AS bl,
        |        CAST(len(list_filter(ln, l -> regexp_matches(l, '(\.{3}|…)\s*$'))) AS BIGINT) AS el,
        |        CAST(len(list_filter(t, x -> regexp_matches(x, '\p{L}'))) AS BIGINT) AS al,
        |        CAST(len(list_intersect(t,
        |          ['join','hash','row','batch','scan','column','filter','data'])) AS BIGINT) AS st
        |      FROM c)
        |SELECT doc_id, words AS n_words,
        |  (words >= 50 AND words <= 100000) AS word_count_ok,
        |  (3*words <= sl AND sl <= 10*words) AS mean_len_ok,
        |  (10*syms <= words) AS symbol_ok,
        |  (10*bl <= 9*nl) AS bullet_ok,
        |  (10*el <= 3*nl) AS ellipsis_ok,
        |  (5*al >= 4*words) AS alpha_ok,
        |  (st >= 2) AS stopword_ok,
        |  ((words >= 50 AND words <= 100000) AND (3*words <= sl AND sl <= 10*words)
        |    AND (10*syms <= words) AND (10*bl <= 9*nl) AND (10*el <= 3*nl)
        |    AND (5*al >= 4*words) AND (st >= 2)) AS pass
        |FROM d""".stripMargin,

    // replays the three fixed-point sweeps exactly: integer floor
    // divisions (// on positive BIGINTs ≡ Spark's div), order-free
    // integer sums, 150000 = (100−85)·SCALE/100 teleport base
    "q122_pagerank" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
        |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |n AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
        |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS odeg FROM e GROUP BY 1),
        |r0 AS (SELECT node_id, CAST(1000000 AS BIGINT) AS r FROM n),
        |m1 AS (SELECT e.dst AS node_id, sum(r0.r // dg.odeg) AS m
        |       FROM e JOIN r0 ON r0.node_id = e.src JOIN dg ON dg.src = e.src
        |       GROUP BY 1),
        |r1 AS (SELECT n.node_id,
        |         CAST(150000 + (85 * coalesce(m1.m, 0)) // 100 AS BIGINT) AS r
        |       FROM n LEFT JOIN m1 USING (node_id)),
        |m2 AS (SELECT e.dst AS node_id, sum(r1.r // dg.odeg) AS m
        |       FROM e JOIN r1 ON r1.node_id = e.src JOIN dg ON dg.src = e.src
        |       GROUP BY 1),
        |r2 AS (SELECT n.node_id,
        |         CAST(150000 + (85 * coalesce(m2.m, 0)) // 100 AS BIGINT) AS r
        |       FROM n LEFT JOIN m2 USING (node_id)),
        |m3 AS (SELECT e.dst AS node_id, sum(r2.r // dg.odeg) AS m
        |       FROM e JOIN r2 ON r2.node_id = e.src JOIN dg ON dg.src = e.src
        |       GROUP BY 1),
        |r3 AS (SELECT n.node_id,
        |         CAST(150000 + (85 * coalesce(m3.m, 0)) // 100 AS BIGINT) AS r
        |       FROM n LEFT JOIN m3 USING (node_id))
        |SELECT node_id, r AS rank_fp FROM r3""".stripMargin,

    // replays winnowing exactly: 5-token grams (i ranges over the
    // len−4 complete grams), 16-hex md5 prefix, window-of-4 minimum
    // of hash:zero-padded-position (equal hashes resolve to the
    // smallest position), distinct per doc, ≤50-doc frequency cap,
    // pair counts ≥ 2
    "q121_copied_spans" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(text,'\s+') AS t FROM documents),
        |g0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
        |         i -> struct_pack(pos := i - 1,
        |                h := substr(md5(array_to_string(t[i:i+4], ' ')), 1, 16)))) AS u
        |       FROM toks),
        |g AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM g0),
        |sel AS (SELECT doc_id,
        |          min(h || ':' || lpad(CAST(pos AS VARCHAR), 8, '0'))
        |            OVER (PARTITION BY doc_id ORDER BY pos
        |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wk
        |        FROM g),
        |fp AS (SELECT DISTINCT doc_id, substr(wk, 1, 16) AS fp FROM sel),
        |kept AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 50)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |WHERE a.fp IN (SELECT fp FROM kept)
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // same gram builder as the Spark side (adjacent token pairs),
    // exact integer sums, one double division at the end; docs with
    // < 2 tokens (or null text) left-join to n_ngrams 0 / score 0.0
    "q119_bigram_coherence" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(text,'\s+') AS t FROM documents),
        |ng AS (SELECT doc_id,
        |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
        |       FROM toks WHERE len(t) >= 2),
        |gtf AS (SELECT doc_id, g, count(*) AS tf FROM ng GROUP BY 1, 2),
        |cg AS (SELECT g, CAST(sum(tf) AS BIGINT) AS c FROM gtf GROUP BY 1),
        |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM gtf),
        |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_ngrams,
        |          sum(tf * c) AS num
        |        FROM gtf JOIN cg USING (g) GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_ngrams, CAST(0 AS BIGINT)) AS n_ngrams,
        |  CASE WHEN n_ngrams IS NULL THEN 0.0
        |       ELSE CAST(num AS DOUBLE)
        |            / (CAST(n_ngrams AS DOUBLE) * CAST(total AS DOUBLE)) END AS coherence
        |FROM documents d LEFT JOIN agg USING (doc_id) CROSS JOIN tot""".stripMargin,

    "q33_dag" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    "q35_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q36_pivot" ->
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q37_asof" ->
      """SELECT l.event_id, l.user_id, l.ts, r.ts AS asof_ts, r.value AS asof_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts""".stripMargin,

    "q38_range_join" ->
      """SELECT l_orderkey, l_linenumber, p_partkey, l_extendedprice
        |FROM lineitem JOIN part
        |  ON l_extendedprice >= p_retailprice - 5.0
        | AND l_extendedprice <= p_retailprice + 5.0""".stripMargin,

    "q34_custom_agg" ->
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |  / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS wavg_price,
        | count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,

    // identical math to q34 — the expression form must match the udaf
    "q40_weighted_mean_expr" ->
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |  / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS wavg_price,
        | count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q41_set_ops" ->
      """WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |SELECT o_custkey, 'both' AS op FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM o)
        |UNION ALL
        |SELECT o_custkey, 'f_only' AS op FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM o)""".stripMargin,

    "q42_join_right" ->
      """SELECT p.p_partkey, li.n_li, p.p_name
        |FROM (SELECT l_partkey AS p_partkey, count(*) AS n_li FROM lineitem
        |      GROUP BY 1 HAVING l_partkey <= 100) li
        |RIGHT JOIN (SELECT p_partkey, p_name FROM part) p USING (p_partkey)""".stripMargin,

    "q43_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q29_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
        |        list_dot_product(a.v,b.v)/(sqrt(list_dot_product(a.v,a.v))*sqrt(list_dot_product(b.v,b.v))) AS cos
        |      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT id1, id2 FROM p WHERE cos >= 0.35""".stripMargin,

    "q20_quality" ->
      """SELECT count(*) AS n_records,
        | CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_shipdate__nulls,
        | CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_quantity < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity__min,
        | CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_quantity > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity__max,
        | CAST(sum(CASE WHEN l_discount IS NOT NULL AND l_discount < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS l_discount__min,
        | CAST(sum(CASE WHEN l_discount IS NOT NULL AND l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS l_discount__max,
        | CAST(sum(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS l_returnflag__allowed,
        | CAST(sum(CASE WHEN l_linestatus IS NOT NULL AND NOT regexp_matches(l_linestatus, '^[FO]$') THEN 1 ELSE 0 END) AS BIGINT) AS l_linestatus__pattern,
        | CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_shipdate__null
        |FROM lineitem""".stripMargin,

    // pooled-decile bins (q128 edge rule), PSI terms in the pinned
    // (q − p)·ln(q/p) order, per-segment sum folded in bin order;
    // zero-observation bins contribute 0 and are counted instead
    "q147_psi_drift" ->
      """WITH base AS (SELECT event_type, value FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |rk AS (SELECT value AS v, row_number() OVER (ORDER BY value) AS rn,
        |    count(*) OVER () AS n FROM base),
        |ed AS (SELECT v FROM rk CROSS JOIN (VALUES (0.1),(0.2),(0.3),(0.4),(0.5),
        |         (0.6),(0.7),(0.8),(0.9)) p(p)
        |       WHERE rn = CAST(ceil(CAST(p.p AS DECIMAL(18,12)) * n) AS INT)),
        |b AS (SELECT event_type,
        |    1 + (SELECT count(*) FROM ed WHERE ed.v < base.value) AS bin FROM base),
        |cnt AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS o FROM b GROUP BY 1, 2),
        |ref AS (SELECT bin, CAST(sum(o) AS BIGINT) AS c FROM cnt GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ref),
        |st AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS s FROM cnt GROUP BY 1),
        |grid AS (SELECT st.event_type, st.s, ref.bin, ref.c, tot.t,
        |    coalesce(cnt.o, 0) AS o
        |  FROM st CROSS JOIN ref CROSS JOIN tot
        |  LEFT JOIN cnt ON cnt.event_type = st.event_type AND cnt.bin = ref.bin),
        |terms AS (SELECT event_type, s, bin, o,
        |    CASE WHEN o > 0 THEN
        |      (CAST(o AS DOUBLE) / CAST(s AS DOUBLE) - CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
        |      * ln((CAST(o AS DOUBLE) / CAST(s AS DOUBLE)) / (CAST(c AS DOUBLE) / CAST(t AS DOUBLE)))
        |    ELSE 0.0 END AS term
        |  FROM grid)
        |SELECT event_type, min(s) AS n_rows, CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(sum(CASE WHEN o = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_bins,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY bin)),
        |    (a, x) -> a + x), 9) AS psi
        |FROM terms GROUP BY event_type""".stripMargin,

    // probability-ratio PMI (no integer products — they overflow at
    // corpus scale), rank over (pmi desc, w1, w2)
    "q148_pmi_collocations" ->
      """WITH arr AS (SELECT list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |    x -> x <> '') AS w FROM documents),
        |cu AS (SELECT tok, CAST(count(*) AS BIGINT) AS cw
        |       FROM (SELECT unnest(w) AS tok FROM arr) GROUP BY 1),
        |nu AS (SELECT CAST(sum(cw) AS BIGINT) AS nu FROM cu),
        |big AS (SELECT w[i] AS w1, w[i + 1] AS w2 FROM
        |  (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM arr
        |   WHERE len(w) >= 2)),
        |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair FROM big GROUP BY 1, 2),
        |nb AS (SELECT CAST(sum(n_pair) AS BIGINT) AS nb FROM cb),
        |sc AS (SELECT w1, w2, n_pair,
        |    round(ln((CAST(n_pair AS DOUBLE) / CAST(nb AS DOUBLE)) /
        |       ((CAST(ca.cw AS DOUBLE) / CAST(nu AS DOUBLE))
        |        * (CAST(c2.cw AS DOUBLE) / CAST(nu AS DOUBLE)))), 9) AS pmi
        |  FROM cb JOIN cu ca ON ca.tok = cb.w1 JOIN cu c2 ON c2.tok = cb.w2
        |  CROSS JOIN nu CROSS JOIN nb
        |  WHERE n_pair >= 5)
        |SELECT w1, w2, n_pair, pmi, rank FROM
        |  (SELECT *, CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT) AS rank
        |   FROM sc)
        |WHERE rank <= 50""".stripMargin,

    // per-doc entropy folded in token order (deterministic doubles);
    // empty docs emit no row
    "q149_token_entropy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(coalesce(text, ''), '\s+')) AS tok
        |             FROM documents),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM tok
        |      WHERE tok <> '' GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, tok, c,
        |    CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM c),
        |te AS (SELECT doc_id, tok, c, n,
        |    (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS term FROM t2)
        |SELECT doc_id, min(n) AS n_tokens, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(count(*) AS DOUBLE) / CAST(min(n) AS DOUBLE) AS ttr,
        |  round(-(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY tok)),
        |    (a, x) -> a + x)), 9) AS entropy
        |FROM te GROUP BY doc_id""".stripMargin,

    // midranks = rank + (ties−1)/2 (exact halves in double), tie term
    // Σ(t²−1) row-wise, z with the tie-corrected σ; all-tied → null z
    "q150_mann_whitney" ->
      """WITH base AS (SELECT value AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ib
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |rk AS (SELECT *, CAST(rank() OVER (ORDER BY v) AS BIGINT) AS rmin,
        |    CAST(count(*) OVER (PARTITION BY v) AS BIGINT) AS t FROM base),
        |ag AS (SELECT CAST(sum(ia) AS BIGINT) AS n_a, CAST(sum(ib) AS BIGINT) AS n_b,
        |    sum(CASE WHEN ia = 1 THEN rmin + (t - 1) / 2.0 END) AS ra,
        |    CAST(sum(t * t - 1) AS BIGINT) AS tie FROM rk)
        |SELECT n_a, n_b,
        |  ra - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0 AS u_a,
        |  CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |    - (ra - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0) AS u_b,
        |  CASE WHEN (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
        |      * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
        |         - CAST(tie AS DOUBLE) / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
        |            * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))) > 0
        |    THEN ((ra - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0)
        |          - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
        |      / sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
        |        * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
        |           - CAST(tie AS DOUBLE) / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
        |              * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))))
        |  END AS z
        |FROM ag WHERE n_a > 0 AND n_b > 0""".stripMargin,

    // consecutive under (ts, event_id) per user; row-normalized by
    // the state's predecessor count
    "q151_transitions" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |    AND event_id IS NOT NULL AND user_id IS NOT NULL),
        |p AS (SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
        |  FROM e),
        |c AS (SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n FROM p
        |  WHERE to_state IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n,
        |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE) AS p
        |FROM c""".stripMargin,

    // co-order pair edges under the ≤8-items-per-order skew cap, then
    // the same degree-ordered orientation / wedge / closing-edge
    // joins the Spark side runs (row-value comparisons = struct ranks)
    "q152_triangles" ->
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gs AS (SELECT g, i FROM (SELECT g, i, count(*) OVER (PARTITION BY g) AS sz
        |       FROM gi) WHERE sz <= 8),
        |e AS (SELECT DISTINCT x.i AS u, y.i AS v FROM gs x
        |      JOIN gs y ON x.g = y.g AND x.i < y.i),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b,
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS rd
        |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
        |w AS (SELECT e1.a AS w0, e1.b AS w1, e2.b AS w2 FROM o e1 JOIN o e2
        |      ON e1.a = e2.a AND (e1.rd, e1.b) < (e2.rd, e2.b)),
        |tr AS (SELECT w0, w1, w2 FROM w JOIN o ON o.a = w.w1 AND o.b = w.w2)
        |SELECT vertex, CAST(count(*) AS BIGINT) AS n_triangles FROM
        |  (SELECT w0 AS vertex FROM tr UNION ALL SELECT w1 FROM tr
        |   UNION ALL SELECT w2 FROM tr)
        |GROUP BY 1""".stripMargin,

    // the candidate pass is a recall set — the exact answer is just
    // GROUP BY + HAVING against the DECIMAL-ceil threshold
    "q153_heavy_hitters" ->
      """WITH t2 AS (SELECT tok AS item FROM
        |    (SELECT unnest(string_split_regex(coalesce(text, ''), '\s+')) AS tok
        |     FROM documents) WHERE tok <> ''),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t2)
        |SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM t2 GROUP BY 1
        |HAVING count(*) >= (SELECT CAST(ceil(CAST(0.002 AS DECIMAL(18,12)) * n) AS BIGINT)
        |                    FROM n)""".stripMargin,

    // add-one-smoothed trigram probabilities, V = distinct observed
    // third chars, per-doc fold in position order
    "q154_char_lm" ->
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents
        |           WHERE len(coalesce(text, '')) >= 3),
        |g AS (SELECT doc_id, i, substr(t, CAST(i AS INT), 3) AS gram FROM
        |  (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM d)),
        |tc AS (SELECT gram, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1),
        |cc AS (SELECT substr(gram, 1, 2) AS ctx, CAST(sum(c) AS BIGINT) AS cc
        |       FROM tc GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT substr(gram, 3, 1)) AS BIGINT) AS v FROM tc),
        |term AS (SELECT doc_id, i,
        |    ln(CAST(tc.c + 1 AS DOUBLE) / CAST(cc.cc + vv.v AS DOUBLE)) AS term
        |  FROM g JOIN tc USING (gram) JOIN cc ON cc.ctx = substr(g.gram, 1, 2)
        |  CROSS JOIN vv)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  round(-(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY i)),
        |    (a, x) -> a + x)) / CAST(count(*) AS DOUBLE), 9) AS nll
        |FROM term GROUP BY doc_id""".stripMargin,

    "q155_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())""".stripMargin,

    // null FK values are not violations (SQL FK semantics)
    "q156_fk_integrity" ->
      """SELECT 'events_user' AS fk,
        |  (SELECT CAST(count(*) AS BIGINT) FROM events
        |   WHERE user_id IS NOT NULL) AS n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM events e
        |   WHERE user_id IS NOT NULL AND NOT EXISTS
        |     (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS n_orphans,
        |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events e
        |   WHERE user_id IS NOT NULL AND NOT EXISTS
        |     (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS n_distinct_orphans
        |UNION ALL
        |SELECT 'lineitem_part',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_partkey IS NOT NULL),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |   WHERE l_partkey IS NOT NULL AND NOT EXISTS
        |     (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)),
        |  (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) FROM lineitem l
        |   WHERE l_partkey IS NOT NULL AND NOT EXISTS
        |     (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))""".stripMargin,

    // expected shares are the SAME compile-time double literals the
    // Spark side carries (runtime is literal+integer IEEE arithmetic,
    // no transcendentals); digit read from the exact DECIMAL string
    "q157_benford" -> {
      // literals ship as QUOTED strings: DuckDB parses a bare decimal
      // literal as DECIMAL and converts (can land 1 ulp off), while a
      // string cast goes through strtod — correctly rounded, so the
      // shortest-repr round-trip reproduces Spark's double exactly
      val dim = (1 to 9)
        .map(d => s"($d, CAST('${math.log10(1.0 + 1.0 / d)}' AS DOUBLE))")
        .mkString(", ")
      s"""WITH dim AS (SELECT * FROM (VALUES $dim) t(digit, p)),
        |obs AS (SELECT CAST(substr(regexp_replace(
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |    '[^1-9]', '', 'g'), 1, 1) AS INT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM orders
        |  WHERE substr(regexp_replace(
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |    '[^1-9]', '', 'g'), 1, 1) <> ''
        |  GROUP BY 1),
        |j AS (SELECT dim.digit, dim.p, coalesce(obs.n_obs, 0) AS n_obs
        |      FROM dim LEFT JOIN obs USING (digit)),
        |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM j),
        |terms AS (SELECT digit, n_obs, CAST(n AS DOUBLE) * p AS expected,
        |    (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
        |      * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
        |      / (CAST(n AS DOUBLE) * p) AS term
        |  FROM j CROSS JOIN tot WHERE n > 0),
        |cs AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(term ORDER BY digit)), (a, x) -> a + x) AS chisq FROM terms)
        |SELECT digit, n_obs, expected, chisq FROM terms CROSS JOIN cs""".stripMargin
    },

    // midrank CDF: every term a multiple of 0.5, one closing divide
    "q158_empirical_cdf" ->
      """SELECT event_id, event_type, value,
        |  (CAST(rank() OVER (PARTITION BY event_type ORDER BY value) AS BIGINT)
        |    + (CAST(count(*) OVER (PARTITION BY event_type, value) AS BIGINT) - 1) / 2.0)
        |   / CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS cdf
        |FROM events WHERE value IS NOT NULL""".stripMargin,

    "q159_window_ranks" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |  percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS pr,
        |  cume_dist() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS cd,
        |  nth_value(c_acctbal, 2) OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal, c_custkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_bal
        |FROM customer""".stripMargin,

    // the estimate is sketch arithmetic (not oracle-replayable); the
    // CLAIM — edge rank within the GK error bound of the target
    // rank — is engine-independent and hash-gated (q146 pattern)
    "q160_approx_contract" ->
      """WITH e AS (SELECT value FROM events WHERE value IS NOT NULL),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e)
        |SELECT CAST(p AS DOUBLE) AS p, n.n AS n, TRUE AS ok
        |FROM (VALUES (0.25), (0.5), (0.75)) t(p) CROSS JOIN n""".stripMargin,

    // the q151 oracle restricted to non-null users (stream keys)
    "q161_stream_transitions" ->
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
        |FROM c""".stripMargin,

    // exact decimal moments cast once to double, pinned formula order
    "q162_corr_matrix" -> {
      val pairs = Seq(("q", "l_quantity", "e", "l_extendedprice"),
        ("q", "l_quantity", "dd", "l_discount"),
        ("e", "l_extendedprice", "dd", "l_discount"))
      def nd = "CAST(n AS DOUBLE)"
      def v(a: String) =
        s"($nd * CAST(ss_$a AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))"
      def cov(a: String, b: String) =
        s"($nd * CAST(sxy_${a}_$b AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))"
      val selects = pairs.map { case (a, an, b, bn) =>
        s"""SELECT '$an' AS col_x, '$bn' AS col_y, n,
           |  CASE WHEN ${v(a)} > 0 AND ${v(b)} > 0
           |    THEN ${cov(a, b)} / (sqrt(${v(a)}) * sqrt(${v(b)})) END AS corr
           |FROM m""".stripMargin
      }.mkString("\n", "\nUNION ALL\n", "")
      s"""WITH b AS (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS q,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS e,
        |    CAST(l_discount AS DECIMAL(18,2)) AS dd
        |  FROM lineitem WHERE l_quantity IS NOT NULL
        |    AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(q) AS s_q, sum(e) AS s_e, sum(dd) AS s_dd,
        |    sum(q * q) AS ss_q, sum(e * e) AS ss_e, sum(dd * dd) AS ss_dd,
        |    sum(q * e) AS sxy_q_e, sum(q * dd) AS sxy_q_dd,
        |    sum(e * dd) AS sxy_e_dd FROM b)$selects""".stripMargin
    },

    // x = floor epoch seconds (epoch_ms // 1000 — exact integers);
    // same decimal-moment discipline as q162
    "q163_linreg" ->
      """WITH b AS (SELECT event_type,
        |    CAST(epoch_ms(ts) // 1000 AS DECIMAL(19,0)) AS x,
        |    CAST(value AS DECIMAL(18,2)) AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM b GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS slope,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |    THEN (CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE) END AS intercept,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |    AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS corr
        |FROM m""".stripMargin,

    // the q116 pixel formula with a parity bump at cell (4,4); banding
    // with maxHamming < bands is pigeonhole-COMPLETE, so the all-pairs
    // replay is exactly the banded result
    "q164_image_neardup" ->
      """WITH bits AS (SELECT doc_id, y, x,
        |    CASE WHEN (CASE WHEN doc_id % 2 = 1 AND x + 1 = 4 AND y = 4
        |         THEN ((doc_id % 50 + 1) * ((x+1)*7 + y*13 + 3) + 60) % 256
        |         ELSE ((doc_id % 50 + 1) * ((x+1)*7 + y*13 + 3)) % 256 END)
        |       > (CASE WHEN doc_id % 2 = 1 AND x = 4 AND y = 4
        |         THEN ((doc_id % 50 + 1) * (x*7 + y*13 + 3) + 60) % 256
        |         ELSE ((doc_id % 50 + 1) * (x*7 + y*13 + 3)) % 256 END)
        |      THEN '1' ELSE '0' END AS b
        |  FROM documents, range(0, 8) t1(y), range(0, 8) t2(x)),
        |h AS (SELECT doc_id, string_agg(b, '' ORDER BY y, x) AS dh
        |      FROM bits GROUP BY doc_id),
        |p AS (SELECT h1.doc_id AS id1, h2.doc_id AS id2,
        |    CAST(len(list_filter(range(1, 65),
        |      i -> substr(h1.dh, CAST(i AS INT), 1) <> substr(h2.dh, CAST(i AS INT), 1))) AS BIGINT) AS hamming
        |  FROM h h1 JOIN h h2 ON h1.doc_id < h2.doc_id)
        |SELECT id1, id2, hamming FROM p WHERE hamming <= 3""".stripMargin,

    // estimates are DataSketches arithmetic; the hash-gated claim is
    // the exact overlap + the accuracy contract
    "q165_theta_overlap" ->
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |pairs AS (SELECT a.event_type AS g1, b.event_type AS g2,
        |    CAST(count(*) AS BIGINT) AS n_exact_overlap
        |  FROM du a JOIN du b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type GROUP BY 1, 2),
        |types AS (SELECT DISTINCT event_type FROM du)
        |SELECT t1.event_type AS g1, t2.event_type AS g2,
        |  CAST(coalesce(p.n_exact_overlap, 0) AS BIGINT) AS n_exact_overlap,
        |  TRUE AS overlap_ok
        |FROM types t1 JOIN types t2 ON t1.event_type < t2.event_type
        |LEFT JOIN pairs p ON p.g1 = t1.event_type AND p.g2 = t2.event_type""".stripMargin,

    "q166_kll_quantiles" ->
      """WITH e AS (SELECT event_type, value FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1)
        |SELECT event_type, CAST(p AS DOUBLE) AS p, n, TRUE AS ok
        |FROM n CROSS JOIN (VALUES (0.25), (0.5), (0.75)) t(p)""".stripMargin,

    // the exact recurrence e' = e + α·(x − e) replayed by a recursive
    // CTE — same pinned IEEE ops, bit-equal without rounding
    "q167_ewma" ->
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
        |SELECT user_id, event_id, ts, v AS value, ew AS ewma FROM walk""".stripMargin,

    // identical to q167: the stream carries the same recurrence in
    // keyed state and must land on the same rows
    "q168_stream_ewma" ->
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
        |SELECT user_id, event_id, ts, v AS value, ew AS ewma FROM walk""".stripMargin,

    // dow = DuckDB dayofweek (Sunday=0) + 1 = Spark dayofweek
    "q169_seasonality" ->
      """WITH b AS (SELECT event_type, dayofweek(ts) + 1 AS dow,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |a AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n, sum(v) AS s
        |      FROM b GROUP BY 1, 2)
        |SELECT event_type, dow, n,
        |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_value,
        |  (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    (CAST(sum(s) OVER (PARTITION BY event_type) AS DOUBLE)
        |     / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE)) AS ratio_to_key_mean
        |FROM a""".stripMargin,

    // phrase boundaries at stopwords, word score deg/freq, phrase
    // fold in word-position order; identical occurrences fold to
    // identical sums so min/any-value aggregation is float-safe
    "q170_rake_keywords" -> {
      val sw = graft.llm.TextAnalysis.EnglishStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH arr AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(coalesce(text, '')), '\\s+'),
        |    x -> x <> '') AS w FROM documents),
        |tok AS (SELECT doc_id, i, w[i] AS tok FROM
        |  (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM arr
        |   WHERE len(w) >= 1)),
        |fl AS (SELECT doc_id, i, tok, tok IN ($sw) AS stop FROM tok),
        |pid AS (SELECT *, CAST(sum(CASE WHEN stop THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS pid FROM fl),
        |ph AS (SELECT doc_id, pid, string_agg(tok, ' ' ORDER BY i) AS phrase,
        |    CAST(count(*) AS BIGINT) AS n_words
        |  FROM pid WHERE NOT stop GROUP BY 1, 2 HAVING count(*) <= 4),
        |wrd AS (SELECT doc_id, pid, phrase, n_words, wpos,
        |    string_split(phrase, ' ')[CAST(wpos AS INT)] AS tok
        |  FROM (SELECT doc_id, pid, phrase, n_words,
        |        unnest(generate_series(1, n_words)) AS wpos FROM ph)),
        |st AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(n_words) AS BIGINT) AS deg FROM wrd GROUP BY 1),
        |sc AS (SELECT wrd.*, CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) AS ws
        |  FROM wrd JOIN st USING (tok)),
        |pp AS (SELECT phrase, min(n_words) AS n_words,
        |    CAST(count(*) AS BIGINT) AS wordrows,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(ws ORDER BY wpos, ws)), (a, x) -> a + x) AS ssum
        |  FROM sc GROUP BY 1),
        |fin AS (SELECT phrase, n_words, wordrows // n_words AS n_occurrences,
        |    ssum / CAST(wordrows // n_words AS DOUBLE) AS score FROM pp)
        |SELECT phrase, n_words, n_occurrences, score, rank FROM
        |  (SELECT *, CAST(row_number() OVER (ORDER BY score DESC, phrase) AS BIGINT) AS rank
        |   FROM fin)
        |WHERE rank <= 50""".stripMargin
    },

    // the q117 amp formula with a parity bump on bucket 6; bit rule =
    // exact integer cross-multiplication; banding pigeonhole-complete
    "q171_audio_neardup" ->
      """WITH s AS (SELECT doc_id,
        |    ((doc_id % 50 + 1) * (i*13 + 7)) % 4096 +
        |      CASE WHEN doc_id % 2 = 1 AND i // 16 = 6 THEN 512 ELSE 0 END AS amp,
        |    (i*64) // 1024 AS b
        |  FROM documents, range(0, 1024) t(i)),
        |bs AS (SELECT doc_id, b, CAST(sum(amp) AS BIGINT) AS sb,
        |    CAST(count(*) AS BIGINT) AS cb FROM s GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(amp) AS BIGINT) AS st,
        |    CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
        |bits AS (SELECT bs.doc_id, b,
        |    CASE WHEN sb * n > st * cb THEN 1 ELSE 0 END AS bit
        |  FROM bs JOIN tot ON tot.doc_id = bs.doc_id),
        |p AS (SELECT b1.doc_id AS id1, b2.doc_id AS id2,
        |    CAST(sum(CASE WHEN b1.bit <> b2.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        |  FROM bits b1 JOIN bits b2 ON b1.doc_id < b2.doc_id AND b1.b = b2.b
        |  GROUP BY 1, 2)
        |SELECT id1, id2, hamming FROM p WHERE hamming <= 3""".stripMargin,

    // mean = exact-decimal sum / non-null count; median = the q66
    // discrete-percentile rule at p=0.5
    "q172_impute" ->
      """WITH st AS (SELECT event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |      / CAST(count(value) AS DOUBLE) AS m FROM events GROUP BY 1),
        |rk AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL),
        |md AS (SELECT event_type,
        |    min(CASE WHEN rn = CAST(ceil(CAST(0.5 AS DECIMAL(18,12)) * n) AS INT)
        |        THEN value END) AS med
        |  FROM rk GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  coalesce(e.value, st.m) AS value_mean,
        |  coalesce(e.value, md.med) AS value_median
        |FROM events e LEFT JOIN st USING (event_type)
        |LEFT JOIN md USING (event_type)""".stripMargin,

    // 30-min-gap sessions (the q89 strict-gap rule), paths ordered by
    // (ts, event_id), sessions > 20 events dropped
    "q174_frequent_paths" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |fl AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
        |      OR t - lag(t) OVER w > 1800000000 THEN 1
        |      ELSE 0 END AS st
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |sess AS (SELECT *, CAST(sum(st) OVER (PARTITION BY user_id ORDER BY t) AS BIGINT) AS sid
        |  FROM fl),
        |p AS (SELECT user_id, sid,
        |    string_agg(event_type, '>' ORDER BY t, event_id) AS path,
        |    CAST(count(*) AS BIGINT) AS len
        |  FROM sess GROUP BY 1, 2 HAVING count(*) <= 20)
        |SELECT path, n_sessions, rank FROM
        |  (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
        |     CAST(row_number() OVER (ORDER BY count(*) DESC, path) AS BIGINT) AS rank
        |   FROM p GROUP BY 1)
        |WHERE rank <= 50""".stripMargin,

    // literal all-pairs levenshtein — the PassJoin result must equal
    // it exactly (completeness is the theorem under test)
    "q173_fuzzy_join" ->
      """WITH n AS (SELECT doc_id, CAST(doc_id AS VARCHAR)
        |    || CASE WHEN doc_id % 2 = 1 THEN 'b' ELSE 'a' END AS name
        |  FROM documents)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.name, b.name) <= 1""".stripMargin,

    "q176_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM customer GROUP BY 1, 2, 3 HAVING count(*) < 5""".stripMargin,

    // literal dominance exists-check — the sweep must agree exactly
    "q177_skyline" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size,
        |  NOT EXISTS (SELECT 1 FROM part b
        |    WHERE b.p_retailprice IS NOT NULL AND b.p_size IS NOT NULL
        |      AND ((b.p_retailprice < p.p_retailprice AND b.p_size >= p.p_size)
        |        OR (b.p_retailprice <= p.p_retailprice AND b.p_size > p.p_size))) AS is_skyline
        |FROM part p
        |WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL""".stripMargin,

    // last touch at-or-before each purchase (deduped per instant),
    // kept within the 1h lookback
    "q178_attribution" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |p AS (SELECT user_id, t, event_id FROM e WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, t, event_id, event_type FROM
        |  (SELECT *, row_number() OVER (PARTITION BY user_id, t
        |     ORDER BY event_id DESC) AS r
        |   FROM e WHERE event_type <> 'purchase') WHERE r = 1),
        |m AS (SELECT p.user_id, p.event_id, p.t, tch.event_id AS tid,
        |    tch.event_type AS ttype, tch.t AS tt,
        |    row_number() OVER (PARTITION BY p.user_id, p.event_id
        |      ORDER BY tch.t DESC) AS r
        |  FROM p JOIN tch ON tch.user_id = p.user_id AND tch.t <= p.t)
        |SELECT event_id, user_id, tid AS touch_event_id, ttype AS touch_type,
        |  t - tt AS age_us
        |FROM m WHERE r = 1 AND t - tt <= 3600000000""".stripMargin,

    "q179_period_over_period" ->
      """WITH a AS (SELECT event_type, date_trunc('day', ts) AS period,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(18,2))) AS s
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, period, n,
        |  CAST(s AS DOUBLE) AS total,
        |  CAST(lag(s) OVER w AS DOUBLE) AS prev_total,
        |  CAST(s AS DOUBLE) - CAST(lag(s) OVER w AS DOUBLE) AS delta,
        |  CASE WHEN lag(s) OVER w IS NOT NULL
        |      AND CAST(lag(s) OVER w AS DOUBLE) <> 0.0
        |    THEN (CAST(s AS DOUBLE) - CAST(lag(s) OVER w AS DOUBLE))
        |      / CAST(lag(s) OVER w AS DOUBLE) END AS pct_change
        |FROM a WINDOW w AS (PARTITION BY event_type ORDER BY period)""".stripMargin,

    // the q134 change-point rule restricted to the stream's keyspace
    // (non-null users), projected to the streamed columns
    "q180_stream_compaction" ->
      """SELECT user_id, event_id, ts, event_type FROM (
        |  SELECT *, lag(event_id) OVER w AS pid, lag(event_type) OVER w AS pv
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |WHERE pid IS NULL OR pv IS DISTINCT FROM event_type""".stripMargin,

    // exact decimal revenue, cumulative share over (revenue desc,
    // partkey), pinned <=0.8 / <=0.95 class edges
    "q181_abc_classes" ->
      """WITH rev AS (SELECT l_partkey,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST('1.00' AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      AS DECIMAL(28,4))) AS r
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |tot AS (SELECT sum(r) AS t FROM rev),
        |rk AS (SELECT l_partkey, r,
        |    CAST(row_number() OVER (ORDER BY r DESC, l_partkey) AS BIGINT) AS rank,
        |    sum(r) OVER (ORDER BY r DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rev)
        |SELECT l_partkey, rank, CAST(r AS DOUBLE) AS revenue,
        |  CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) AS cum_share,
        |  CASE WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.8 THEN 'A'
        |       WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.95 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM rk CROSS JOIN tot""".stripMargin,

    // the estimate is sketch arithmetic; the hash-gated claim is the
    // exact rolling distinct + the accuracy contract (q146 pattern)
    "q182_rolling_uniques" ->
      """WITH du AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |    AND ts IS NOT NULL),
        |days AS (SELECT DISTINCT event_type, day FROM du)
        |SELECT d.event_type, d.day,
        |  CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_exact,
        |  TRUE AS estimate_ok
        |FROM days d JOIN du u ON u.event_type = d.event_type
        |  AND u.day >= d.day - 2 AND u.day <= d.day
        |GROUP BY 1, 2""".stripMargin,

    // cumulative centi-weight crossing rule: smallest value with
    // cum >= p*W (ties share cum; before subtracts tied mass)
    "q183_weighted_median" ->
      """WITH b AS (SELECT l_returnflag, l_extendedprice AS v,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS wt
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND l_quantity IS NOT NULL AND l_quantity > 0),
        |c AS (SELECT l_returnflag, v, wt,
        |    CAST(sum(wt) OVER (PARTITION BY l_returnflag ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(wt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot,
        |    CAST(sum(wt) OVER (PARTITION BY l_returnflag, v) AS BIGINT) AS tie
        |  FROM b)
        |SELECT DISTINCT l_returnflag, CAST(p AS DOUBLE) AS p, v AS price FROM c
        |CROSS JOIN (VALUES (0.25), (0.5), (0.75)) t(p)
        |WHERE cum >= CAST(p AS DECIMAL(6,5)) * CAST(tot AS DECIMAL(20,0))
        |  AND cum - tie < CAST(p AS DECIMAL(6,5)) * CAST(tot AS DECIMAL(20,0))""".stripMargin,

    // the estimate is sketch arithmetic; hash-gated: exact distincts,
    // full row coverage (n_seen == rows), and the accuracy contract
    "q184_stream_distinct" ->
      """SELECT CAST(event_type AS VARCHAR) AS key,
        |  CAST(count(*) AS BIGINT) AS n_seen,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS ok
        |FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  AND ts IS NOT NULL
        |GROUP BY 1""".stripMargin,

    // corrections win, base fills, new-only rows survive
    "q185_patch" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 13 <> 0),
        |fixes AS (SELECT o_orderkey, 'X' AS o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) + CAST('1.00' AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT coalesce(f.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  coalesce(f.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
        |  coalesce(f.o_totalprice, b.o_totalprice) AS o_totalprice
        |FROM base b FULL OUTER JOIN fixes f USING (o_orderkey)""".stripMargin,

    // half-open validity: from <= date < to
    "q186_scd2_lookup" ->
      """WITH dim AS (
        |  SELECT c_custkey, 'LEGACY' AS c_mktsegment,
        |    DATE '1992-01-01' AS vf, DATE '1996-01-01' AS vt FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment,
        |    DATE '1996-01-01', DATE '9999-12-31' FROM customer)
        |SELECT o.o_orderkey, o.o_custkey AS c_custkey, o.o_orderdate,
        |  dim.c_mktsegment AS dim_c_mktsegment
        |FROM orders o LEFT JOIN dim ON dim.c_custkey = o.o_custkey
        |  AND dim.vf <= o.o_orderdate AND o.o_orderdate < dim.vt""".stripMargin,

    "q187_lag_features" ->
      """SELECT user_id, ts, event_id, value,
        |  lag(value, 1) OVER w AS value_lag1,
        |  lag(value, 2) OVER w AS value_lag2,
        |  lag(value, 3) OVER w AS value_lag3
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin,

    // power-of-two scaling is exact for any double; floor exact; the
    // per-dim integer sums stand in for centroids (counts cancel)
    "q188_centroid_drift" ->
      """WITH e AS (SELECT CAST(vec_id % 2 AS INT) AS g, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL
        |    AND len(embedding) > 0 AND vec_id IS NOT NULL),
        |dd AS (SELECT g, i - 1 AS d, CAST(floor(v[i] * 16777216.0) AS BIGINT) AS t
        |  FROM (SELECT g, v, unnest(generate_series(1, len(v))) AS i FROM e)),
        |sm AS (SELECT g, d, CAST(sum(t) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n FROM dd GROUP BY 1, 2),
        |j AS (SELECT a.g AS g1, b.g AS g2, a.d,
        |    CAST(a.s AS DOUBLE) * CAST(b.s AS DOUBLE) AS xy,
        |    CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE) AS xx,
        |    CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE) AS yy,
        |    a.n AS n1, b.n AS n2
        |  FROM sm a JOIN sm b ON a.d = b.d AND a.g < b.g),
        |f AS (SELECT g1, g2, max(n1) AS n_1, max(n2) AS n_2,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(xy ORDER BY d)), (p, x) -> p + x) AS sxy,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(xx ORDER BY d)), (p, x) -> p + x) AS sxx,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(yy ORDER BY d)), (p, x) -> p + x) AS syy
        |  FROM j GROUP BY 1, 2)
        |SELECT g1, g2, n_1, n_2,
        |  CASE WHEN sxx > 0 AND syy > 0
        |    THEN sxy / (sqrt(sxx) * sqrt(syy)) END AS cosine
        |FROM f""".stripMargin,

    // the hash ring replayed literally; offset in [1, n-1] so an
    // anchor never samples itself
    "q189_negative_sampling" ->
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
        |  WHERE doc_id IS NOT NULL),
        |s AS (SELECT doc_id, j AS slot,
        |    (doc_id + 1 + ((doc_id * 2654435761 + j * 40503) % (n - 1))) % n AS neg_id
        |  FROM documents CROSS JOIN nn
        |  CROSS JOIN (VALUES (1), (2), (3), (4)) t(j)
        |  WHERE doc_id IS NOT NULL)
        |SELECT s.doc_id, s.slot, s.neg_id, d.n_chars AS neg_chars
        |FROM s JOIN documents d ON d.doc_id = s.neg_id""".stripMargin,

    "q190_sql_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority""".stripMargin,

    "q191_sql_correlated" ->
      """SELECT c_custkey, c_nationkey, c_acctbal
        |FROM customer c
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * (
        |    SELECT count(*) FROM customer i
        |    WHERE i.c_nationkey = c.c_nationkey) > (
        |    SELECT sum(CAST(c_acctbal AS DECIMAL(18,2)))
        |    FROM customer i
        |    WHERE i.c_nationkey = c.c_nationkey)""".stripMargin,

    // keep iff t >= last_KEPT + gap — recursive by nature, replayed
    // by a recursive CTE carrying the anchor
    "q192_anchored_throttle" ->
      """WITH RECURSIVE r0 AS (SELECT user_id, epoch_us(ts) AS t, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |walk AS (
        |  SELECT user_id, t, ts, event_id, rn, TRUE AS kept, t AS last_t
        |  FROM r0 WHERE rn = 1
        |  UNION ALL
        |  SELECT r0.user_id, r0.t, r0.ts, r0.event_id, r0.rn,
        |    r0.t >= w.last_t + 1800000000,
        |    CASE WHEN r0.t >= w.last_t + 1800000000 THEN r0.t ELSE w.last_t END
        |  FROM walk w JOIN r0 ON r0.user_id = w.user_id AND r0.rn = w.rn + 1)
        |SELECT user_id, event_id, ts FROM walk WHERE kept""".stripMargin,

    // hottest key ties break to the larger stringified key (max
    // struct semantics); skew factor = max/(rows/keys), pinned order
    "q193_skew_report" -> {
      def block(c: String) =
        s"""SELECT '$c' AS key_col,
           |  (SELECT CAST(sum(cc) AS BIGINT) FROM c_$c) AS n_rows,
           |  (SELECT CAST(count(*) AS BIGINT) FROM c_$c) AS n_keys,
           |  (SELECT CAST(max(cc) AS BIGINT) FROM c_$c) AS max_key_rows,
           |  (SELECT CAST(k AS VARCHAR) FROM c_$c
           |   ORDER BY cc DESC, CAST(k AS VARCHAR) DESC LIMIT 1) AS hottest_key,
           |  CAST((SELECT max(cc) FROM c_$c) AS DOUBLE)
           |    / (CAST((SELECT sum(cc) FROM c_$c) AS DOUBLE)
           |       / CAST((SELECT count(*) FROM c_$c) AS DOUBLE)) AS skew_factor""".stripMargin
      s"""WITH c_l_orderkey AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cc
        |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |c_l_partkey AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS cc
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |c_l_suppkey AS (SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS cc
        |  FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1)
        |${block("l_orderkey")}
        |UNION ALL
        |${block("l_partkey")}
        |UNION ALL
        |${block("l_suppkey")}""".stripMargin
    },

    // Wilson bounds replayed with the identical pinned op sequence;
    // z ships as a quoted-string literal (the q157 strtod rule)
    "q194_conversion_ci" -> {
      val z = "CAST('1.96' AS DOUBLE)"
      val nD = "CAST(n_trials AS DOUBLE)"
      val pD = s"CAST(n_success AS DOUBLE) / $nD"
      val denom = s"(1.0 + $z * $z / $nD)"
      val center = s"(($pD + $z * $z / (2.0 * $nD)) / $denom)"
      val half = s"($z * sqrt(($pD) * (1.0 - ($pD)) / $nD + $z * $z / (4.0 * $nD * $nD)) / $denom)"
      s"""WITH a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_trials,
        |    CAST(sum(CASE WHEN value > 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_success
        |  FROM events GROUP BY 1)
        |SELECT event_type, n_trials, n_success,
        |  $pD AS rate,
        |  greatest(0.0, $center - $half) AS ci_low,
        |  least(1.0, $center + $half) AS ci_high
        |FROM a""".stripMargin
    },

    // the q127 funnel folded to stage counts, then three ratio rows
    "q195_funnel_rates" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |w1 AS (SELECT *, CASE WHEN event_type = 'view' THEN ts END AS q0 FROM e),
        |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND
        |         min(q0) OVER (PARTITION BY user_id ORDER BY ts) IS NOT NULL
        |         THEN ts END AS q1 FROM w1),
        |w3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND
        |         min(q1) OVER (PARTITION BY user_id ORDER BY ts) IS NOT NULL
        |         THEN ts END AS q2 FROM w2),
        |f AS (SELECT user_id,
        |  CASE WHEN min(q2) IS NOT NULL THEN 3 WHEN min(q1) IS NOT NULL THEN 2
        |       WHEN min(q0) IS NOT NULL THEN 1 ELSE 0 END AS stage
        |  FROM w3 GROUP BY user_id),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN stage >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(sum(CASE WHEN stage >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3
        |  FROM f)
        |SELECT 1 AS step, c1 AS n_reached, c0 AS n_prev,
        |  CASE WHEN c0 > 0 THEN CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) END AS rate FROM a
        |UNION ALL
        |SELECT 2, c2, c1,
        |  CASE WHEN c1 > 0 THEN CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) END FROM a
        |UNION ALL
        |SELECT 3, c3, c2,
        |  CASE WHEN c2 > 0 THEN CAST(c3 AS DOUBLE) / CAST(c2 AS DOUBLE) END FROM a""".stripMargin,

    // identical bucket expression; dense axis zero-fills
    "q196_histogram" ->
      """WITH b AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
        |  WHERE value IS NOT NULL),
        |sp AS (SELECT event_type, min(v) AS lo, max(v) AS hi FROM b GROUP BY 1),
        |c AS (SELECT b.event_type,
        |    CASE WHEN hi = lo THEN 0
        |         ELSE least(CAST(19 AS BIGINT),
        |           CAST(floor((v - lo) * 20 / (hi - lo)) AS BIGINT)) END AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM b JOIN sp USING (event_type) GROUP BY 1, 2),
        |ax AS (SELECT event_type, unnest(generate_series(CAST(0 AS BIGINT),
        |    CAST(19 AS BIGINT))) AS bucket FROM sp)
        |SELECT ax.event_type, ax.bucket, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM ax LEFT JOIN c ON c.event_type = ax.event_type
        |  AND c.bucket = ax.bucket""".stripMargin,

    "q197_cohort_ltv" ->
      """WITH ev AS (SELECT user_id, date_trunc('hour', ts) AS m,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |f AS (SELECT user_id, min(m) AS cohort FROM ev GROUP BY 1),
        |a AS (SELECT cohort,
        |    (epoch_ms(m) // 1000 - epoch_ms(cohort) // 1000) // 3600 AS age,
        |    CAST(count(*) AS BIGINT) AS n_events, sum(v) AS sv
        |  FROM ev JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT cohort, age, n_events, CAST(sv AS DOUBLE) AS value,
        |  CAST(sum(sv) OVER (PARTITION BY cohort ORDER BY age
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_value
        |FROM a""".stripMargin,

    // gram occurrences whose gram has corpus df = 1
    "q198_novelty" ->
      """WITH arr AS (SELECT doc_id, list_filter(
        |    string_split_regex(coalesce(text, ''), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |g AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
        |    || w[i+3] || ' ' || w[i+4] AS gram
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
        |        FROM arr WHERE len(w) >= 5)),
        |df AS (SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS d
        |       FROM g GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS novelty
        |FROM g JOIN df USING (gram) GROUP BY doc_id""".stripMargin,

    // gaps-and-islands: day − row_number is constant within a streak
    "q199_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |g AS (SELECT user_id, day,
        |    CAST(day - DATE '1970-01-01' AS BIGINT)
        |      - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM d),
        |st AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
        |       FROM g GROUP BY 1, 2)
        |SELECT user_id, max(len) AS longest_streak,
        |  CAST(count(*) AS BIGINT) AS n_streaks
        |FROM st GROUP BY 1""".stripMargin,

    // fingerprint = the q22 rolling-hash formula over NON-EMPTY tokens
    // (exact replay of TextAnalysis.fingerprint, not an md5-of-raw-text
    // proxy — whitespace-variant duplicates must collapse identically),
    // tokens = non-empty whitespace split, median = the q66 disc rule
    "q200_dataset_card" ->
      """WITH d AS (SELECT source,
        |    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |      x -> x <> '') AS w, n_chars
        |  FROM documents WHERE source IS NOT NULL),
        |b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(w)) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(w, x -> ('0x'||substr(md5(x),1,8))::BIGINT)),
        |      (acc,h) -> (acc*31+h)%1000000007)) AS BIGINT) AS uniq
        |  FROM d GROUP BY 1),
        |r AS (SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM d WHERE n_chars IS NOT NULL),
        |m AS (SELECT source, min(CASE WHEN rn =
        |    CAST(ceil(CAST(0.5 AS DECIMAL(18,12)) * n) AS INT)
        |    THEN n_chars END) AS median_chars FROM r GROUP BY 1)
        |SELECT b.source, n_docs, n_tokens, median_chars,
        |  CAST(n_docs - uniq AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_fraction
        |FROM b JOIN m USING (source)""".stripMargin,

    "q175_gaps" ->
      """WITH d AS (SELECT DISTINCT o_orderkey AS v FROM orders
        |  WHERE o_orderkey IS NOT NULL AND o_orderkey % 97 <> 0
        |    AND o_orderkey % 89 <> 3),
        |g AS (SELECT v, lead(v) OVER (ORDER BY v) AS nx FROM d)
        |SELECT v AS prev_val, nx AS next_val, v + 1 AS gap_start,
        |  nx - 1 AS gap_end, nx - v - 1 AS gap_len
        |FROM g WHERE nx IS NOT NULL AND nx - v > 1""".stripMargin,

    // exact integer pair/item/basket counts; support/confidence/lift
    // replay the pinned division order
    "q201_assoc_rules" ->
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gi AS (SELECT g, i FROM (SELECT g, i,
        |    count(*) OVER (PARTITION BY g) AS sz FROM gi0) WHERE sz <= 8),
        |nb AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n FROM gi),
        |it AS (SELECT i, CAST(count(*) AS BIGINT) AS s FROM gi GROUP BY 1),
        |p AS (SELECT x.i AS a, y.i AS b, CAST(count(*) AS BIGINT) AS ps
        |      FROM gi x JOIN gi y ON x.g = y.g AND x.i < y.i GROUP BY 1, 2
        |      HAVING count(*) >= 2),
        |r AS (SELECT a AS ante, b AS cons, ps FROM p
        |      UNION ALL SELECT b, a, ps FROM p)
        |SELECT r.ante AS antecedent, r.cons AS consequent, ps AS n_pair,
        |  ia.s AS n_antecedent, ic.s AS n_consequent, nb.n AS n_baskets,
        |  CAST(ps AS DOUBLE) / CAST(nb.n AS DOUBLE) AS support,
        |  CAST(ps AS DOUBLE) / CAST(ia.s AS DOUBLE) AS confidence,
        |  (CAST(ps AS DOUBLE) / CAST(ia.s AS DOUBLE))
        |    / (CAST(ic.s AS DOUBLE) / CAST(nb.n AS DOUBLE)) AS lift
        |FROM r JOIN it ia ON ia.i = r.ante
        |       JOIN it ic ON ic.i = r.cons CROSS JOIN nb""".stripMargin,

    // exact-decimal window sums; the score is ONE cast + ONE division
    "q202_level_shift" ->
      """WITH e AS (SELECT event_type, event_id, ts, value,
        |    CAST(value AS DECIMAL(18,2)) AS dv
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL)
        |SELECT event_type, event_id, ts, value,
        |  CASE WHEN count(*) OVER wb = 50 AND count(*) OVER wa = 50
        |    THEN CAST(sum(dv) OVER wa - sum(dv) OVER wb AS DOUBLE) / 50.0
        |  END AS shift
        |FROM e
        |WINDOW wb AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING),
        |  wa AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN 1 FOLLOWING AND 50 FOLLOWING)""".stripMargin,

    // integer-exact RA scores (floor division); candidates minus the
    // known edge list
    "q203_link_prediction" ->
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gi AS (SELECT g, i FROM (SELECT g, i,
        |    count(*) OVER (PARTITION BY g) AS sz FROM gi0) WHERE sz <= 8),
        |e AS (SELECT x.i AS u, y.i AS v FROM gi x
        |      JOIN gi y ON x.g = y.g AND x.i < y.i GROUP BY 1, 2),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |adj AS (SELECT a.z, a.x, deg.d FROM
        |  (SELECT u AS z, v AS x FROM e UNION ALL SELECT v AS z, u AS x FROM e) a
        |  JOIN deg ON deg.n = a.z WHERE deg.d <= 60),
        |cand AS (SELECT p.x AS u, q.x AS v,
        |    CAST(count(*) AS BIGINT) AS common_neighbors,
        |    CAST(sum(1000000000000 // p.d) AS BIGINT) AS score
        |  FROM adj p JOIN adj q ON p.z = q.z AND p.x < q.x GROUP BY 1, 2)
        |SELECT c.u, c.v, common_neighbors, score FROM cand c
        |LEFT JOIN e ON e.u = c.u AND e.v = c.v WHERE e.u IS NULL""".stripMargin,

    // same blocking predicates replayed relationally; DuckDB's
    // jaro_winkler_similarity IS the pinned kernel
    "q204_jw_join" ->
      """WITH s AS (SELECT p_partkey AS id, p_name AS s FROM part
        |  WHERE p_name IS NOT NULL AND len(p_name) >= 1)
        |SELECT a.id AS id1, b.id AS id2,
        |  jaro_winkler_similarity(a.s, b.s) AS sim
        |FROM s a JOIN s b ON a.id < b.id
        |  AND substr(a.s, 1, 1) = substr(b.s, 1, 1)
        |  AND abs(len(a.s) - len(b.s)) <= 2
        |WHERE jaro_winkler_similarity(a.s, b.s) >= 0.94""".stripMargin,

    // exact cent prefix sums, the B_i identity replayed in the
    // engine's pinned IEEE order (cents/100 = the same correctly-
    // rounded doubles), earliest-position tie-break
    "q315_best_mean_split" ->
      """WITH b AS (SELECT event_type, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |w AS (SELECT event_type, ts, vc,
        |    CAST(row_number() OVER win AS BIGINT) AS i,
        |    CAST(sum(vc) OVER win AS BIGINT) AS sc,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(sum(vc) OVER (PARTITION BY event_type) AS BIGINT) AS tc
        |  FROM b WINDOW win AS (PARTITION BY event_type
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT event_type, ts, i, n,
        |    CAST(sc AS DOUBLE) / 100.0 * (CAST(sc AS DOUBLE) / 100.0)
        |      / CAST(i AS DOUBLE)
        |    + (CAST(tc AS DOUBLE) / 100.0 - CAST(sc AS DOUBLE) / 100.0)
        |      * (CAST(tc AS DOUBLE) / 100.0 - CAST(sc AS DOUBLE) / 100.0)
        |      / (CAST(n AS DOUBLE) - CAST(i AS DOUBLE))
        |    - CAST(tc AS DOUBLE) / 100.0 * (CAST(tc AS DOUBLE) / 100.0)
        |      / CAST(n AS DOUBLE) AS gain
        |  FROM w WHERE i < n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY gain DESC, i) AS rk FROM g)
        |SELECT event_type, n, i AS split_index,
        |  epoch_us(ts) AS split_ts_us, gain
        |FROM r WHERE rk = 1""".stripMargin,

    // the LLR walk with the SAME round-9 literal constants the engine
    // pins driver-side: every LLR an exact decimal, boundary
    // comparisons float-free, earliest crossing / final-row fallback
    "q316_sprt" -> {
      def l9(x: Double) =
        BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .bigDecimal.toPlainString
      val c1 = l9(math.log(0.6 / 0.4))
      val c0 = l9(math.log(0.4 / 0.6))
      val up = l9(math.log(0.8 / 0.05))
      val lo = l9(math.log(0.2 / 0.95))
      s"""WITH b AS (SELECT event_type, ts, event_id,
         |    CASE WHEN value >= 50 THEN 1 ELSE 0 END AS y
         |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
         |    AND value IS NOT NULL),
         |w AS (SELECT *, CAST(count(*) OVER win AS BIGINT) AS n,
         |    CAST(sum(y) OVER win AS BIGINT) AS s,
         |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
         |      AS nt,
         |    CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS st
         |  FROM b WINDOW win AS (PARTITION BY event_type
         |    ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |l AS (SELECT *, s * CAST($c1 AS DECIMAL(12,9))
         |    + (n - s) * CAST($c0 AS DECIMAL(12,9)) AS llr FROM w),
         |d AS (SELECT *,
         |    CASE WHEN llr >= CAST($up AS DECIMAL(12,9)) THEN 'accept_h1'
         |         WHEN llr <= CAST($lo AS DECIMAL(12,9)) THEN 'accept_h0'
         |    END AS dcn FROM l),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY CASE WHEN dcn IS NOT NULL THEN 0 ELSE 1 END,
         |      CASE WHEN dcn IS NOT NULL THEN n ELSE -n END) AS rk
         |  FROM d)
         |SELECT event_type, nt AS n_total, st AS n_pos,
         |  dcn AS decision,
         |  CASE WHEN dcn IS NOT NULL THEN n END AS n_at_decision,
         |  CAST(llr AS DOUBLE) AS llr_at_decision
         |FROM r WHERE rk = 1""".stripMargin
    },

    // the same md5-derived Poisson(1) weights (round-9 CDF literals),
    // exact integer resample moments, order-statistic CI ranks
    "q317_bootstrap_ci" -> {
      val cdf = {
        var p = math.exp(-1.0); var cum = BigDecimal(0)
        (0 to 6).map { k =>
          cum += BigDecimal(p); p = p / (k + 1.0)
          cum.setScale(9, BigDecimal.RoundingMode.HALF_UP)
            .bigDecimal.toPlainString
        }
      }
      val caseW = cdf.zipWithIndex
        .map { case (t, k) => s"WHEN h < $t THEN $k" }
        .mkString("CASE ", " ", " ELSE 7 END")
      s"""WITH base AS (SELECT event_type AS etype,
         |    CAST(event_id AS VARCHAR) AS id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
         |    AND event_type = 'purchase'),
         |pt AS (SELECT etype, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0
         |      AS mean
         |  FROM base GROUP BY 1),
         |ex AS (SELECT etype, id, v,
         |    unnest(generate_series(1, 100)) AS bb FROM base),
         |hw AS (SELECT etype, bb, v, $caseW AS w
         |  FROM (SELECT *, CAST(('0x' || substr(md5(id || ':' ||
         |      CAST(bb AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
         |      / 4294967296.0 AS h FROM ex)),
         |m AS (SELECT etype, bb, CAST(sum(v * w) AS BIGINT) AS vw,
         |    CAST(sum(w) AS BIGINT) AS ws FROM hw GROUP BY 1, 2),
         |mm AS (SELECT etype, bb,
         |    CAST(vw AS DOUBLE) / CAST(ws AS DOUBLE) / 100.0 AS m
         |  FROM m WHERE ws > 0),
         |r AS (SELECT *, row_number() OVER (PARTITION BY etype
         |    ORDER BY m, bb) AS rk,
         |    count(*) OVER (PARTITION BY etype) AS cnt FROM mm)
         |SELECT pt.etype, pt.n, pt.mean,
         |  min(CASE WHEN rk = CAST(ceil(0.025 * cnt) AS BIGINT)
         |    THEN m END) AS ci_lo,
         |  min(CASE WHEN rk = CAST(ceil(0.975 * cnt) AS BIGINT)
         |    THEN m END) AS ci_hi
         |FROM r JOIN pt USING (etype)
         |GROUP BY 1, 2, 3""".stripMargin
    },

    // dense cells + 8-adjacency transitive closure (the q45 reach
    // CTE), min-cell-label components, sparse points null
    "q319_grid_clusters" ->
      """WITH RECURSIVE pts AS (SELECT c_custkey AS id,
        |    ('0x'||substr(md5(CAST(c_custkey AS VARCHAR)||'x'),1,8))::BIGINT
        |      % 1000000 AS x,
        |    ('0x'||substr(md5(CAST(c_custkey AS VARCHAR)||'y'),1,8))::BIGINT
        |      % 1000000 AS y
        |  FROM customer),
        |b AS (SELECT id,
        |    CAST(floor(CAST(x AS DOUBLE) / 50000) AS BIGINT) AS cx,
        |    CAST(floor(CAST(y AS DOUBLE) / 50000) AS BIGINT) AS cy
        |  FROM pts),
        |dense AS (SELECT cx, cy,
        |    CAST(cx AS VARCHAR) || ':' || CAST(cy AS VARCHAR) AS cell
        |  FROM (SELECT cx, cy, count(*) AS n FROM b GROUP BY 1, 2)
        |  WHERE n >= 6),
        |e0 AS (SELECT a.cell AS c1, bb.cell AS c2 FROM dense a
        |  JOIN dense bb ON abs(a.cx - bb.cx) <= 1
        |    AND abs(a.cy - bb.cy) <= 1 AND a.cell < bb.cell),
        |e AS (SELECT c1 AS a, c2 AS b FROM e0
        |      UNION SELECT c2, c1 FROM e0),
        |reach AS (
        |  SELECT a AS node, a AS r FROM e
        |  UNION
        |  SELECT reach.node, e.b AS r FROM reach JOIN e ON reach.r = e.a
        |),
        |comp AS (SELECT node, MIN(r) AS component FROM reach
        |  GROUP BY node),
        |lab AS (SELECT d.cx, d.cy,
        |    coalesce(c.component, d.cell) AS cluster
        |  FROM dense d LEFT JOIN comp c ON c.node = d.cell)
        |SELECT b.id AS c_custkey, b.cx AS cell_x, b.cy AS cell_y,
        |  lab.cluster
        |FROM b LEFT JOIN lab ON lab.cx = b.cx AND lab.cy = b.cy""".stripMargin,

    // pooled θ from the variant-grid moments (exact integer units
    // over correctly-rounded divisions), per-variant adjustment in
    // the engine's pinned IEEE order
    "q320_cuped" ->
      """WITH b AS (SELECT event_type, CAST(user_id % 2 AS INT) AS variant,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc,
        |    CAST(CAST(length(props) AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS xc
        |  FROM events WHERE value IS NOT NULL AND props IS NOT NULL
        |    AND user_id IS NOT NULL AND event_type IS NOT NULL),
        |g AS (SELECT event_type, variant, CAST(count(*) AS BIGINT) AS n,
        |    sum(yc) AS sy, sum(xc) AS sx, sum(xc * yc) AS sxy4,
        |    sum(xc * xc) AS sxx4
        |  FROM b GROUP BY 1, 2),
        |p AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS np,
        |    CAST(sum(sy) AS DOUBLE) / 100.0 AS syp,
        |    CAST(sum(sx) AS DOUBLE) / 100.0 AS sxp,
        |    CAST(sum(sxy4) AS DOUBLE) / 10000.0 AS sxyp,
        |    CAST(sum(sxx4) AS DOUBLE) / 10000.0 AS sxxp
        |  FROM g GROUP BY 1),
        |t AS (SELECT event_type,
        |    CASE WHEN CAST(np AS DOUBLE) * sxxp - sxp * sxp > 0
        |      THEN (CAST(np AS DOUBLE) * sxyp - sxp * syp)
        |        / (CAST(np AS DOUBLE) * sxxp - sxp * sxp) END AS theta,
        |    sxp / CAST(np AS DOUBLE) AS xbar
        |  FROM p)
        |SELECT g.event_type, g.variant, g.n,
        |  CAST(sy AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) AS mean,
        |  CASE WHEN theta IS NOT NULL THEN
        |    CAST(sy AS DOUBLE) / 100.0 / CAST(n AS DOUBLE)
        |      - theta * (CAST(sx AS DOUBLE) / 100.0 / CAST(n AS DOUBLE)
        |        - xbar)
        |  ELSE CAST(sy AS DOUBLE) / 100.0 / CAST(n AS DOUBLE)
        |  END AS adjusted_mean,
        |  theta
        |FROM g JOIN t USING (event_type)""".stripMargin,

    // four exact cell sums, pinned cell means, the double difference
    // in the engine's order; a missing cell nulls the estimate
    "q321_did" ->
      """WITH b AS (SELECT event_type, (user_id % 2 = 0) AS t,
        |    (hour(ts) >= 12) AS p,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND ts IS NOT NULL AND event_type IS NOT NULL),
        |c AS (SELECT event_type, t, p, CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(vc) AS BIGINT) AS sc FROM b GROUP BY 1, 2, 3),
        |a AS (SELECT event_type, CAST(sum(cn) AS BIGINT) AS n,
        |    min(CASE WHEN NOT t AND NOT p THEN CAST(sc AS DOUBLE)
        |      / 100.0 / CAST(cn AS DOUBLE) END) AS mean_c_pre,
        |    min(CASE WHEN NOT t AND p THEN CAST(sc AS DOUBLE)
        |      / 100.0 / CAST(cn AS DOUBLE) END) AS mean_c_post,
        |    min(CASE WHEN t AND NOT p THEN CAST(sc AS DOUBLE)
        |      / 100.0 / CAST(cn AS DOUBLE) END) AS mean_t_pre,
        |    min(CASE WHEN t AND p THEN CAST(sc AS DOUBLE)
        |      / 100.0 / CAST(cn AS DOUBLE) END) AS mean_t_post
        |  FROM c GROUP BY 1)
        |SELECT event_type, n, mean_c_pre, mean_c_post, mean_t_pre,
        |  mean_t_post,
        |  (mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre) AS did
        |FROM a""".stripMargin,

    // exact confusion cells (the q253 synthetic classifier), pinned
    // ratio closings, null on empty denominators
    "q322_classification_report" ->
      """WITH b AS (SELECT event_type, value >= 50 AS y,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'cal'),
        |      1, 8))::BIGINT AS DOUBLE) / 4294967296.0 >= 0.45 AS pred
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |m AS (SELECT event_type,
        |    CAST(sum(CASE WHEN y AND pred THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tp,
        |    CAST(sum(CASE WHEN NOT y AND pred THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN y AND NOT pred THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN NOT y AND NOT pred THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tn
        |  FROM b GROUP BY 1),
        |r AS (SELECT *,
        |    CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE)
        |      / CAST(tp + fp AS DOUBLE) END AS precision,
        |    CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)
        |      / CAST(tp + fn AS DOUBLE) END AS recall
        |  FROM m)
        |SELECT event_type, tp, fp, fn, tn, precision, recall,
        |  CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
        |      AND precision + recall > 0
        |    THEN 2.0 * precision * recall / (precision + recall)
        |  END AS f1,
        |  CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)
        |    AS accuracy
        |FROM r""".stripMargin,

    // exact 2x2 cells; ln(OR) round-9 (libm-consistent), Wald CI in
    // the engine's pinned order; zero cells null the estimates
    "q323_odds_ratio" ->
      """WITH b AS (SELECT event_type, (user_id % 2 = 0) AS e,
        |    value >= 50 AS y
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |m AS (SELECT event_type,
        |    CAST(sum(CASE WHEN e AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN e AND NOT y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b,
        |    CAST(sum(CASE WHEN NOT e AND y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c,
        |    CAST(sum(CASE WHEN NOT e AND NOT y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM b GROUP BY 1),
        |r AS (SELECT *,
        |    a > 0 AND b > 0 AND c > 0 AND d > 0 AS ok,
        |    (CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
        |      / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) AS orx,
        |    sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
        |      + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE)) AS se
        |  FROM m),
        |f AS (SELECT *, CASE WHEN ok THEN round(ln(orx), 9) END
        |    AS log_or FROM r)
        |SELECT event_type, a, b, c, d,
        |  CASE WHEN ok THEN orx END AS odds_ratio,
        |  CASE WHEN a + b > 0 AND c > 0 THEN
        |    (CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE))
        |      / (CAST(c AS DOUBLE) / CAST(c + d AS DOUBLE))
        |  END AS relative_risk,
        |  log_or,
        |  CASE WHEN ok THEN log_or - 1.96 * se END AS ci_lo,
        |  CASE WHEN ok THEN log_or + 1.96 * se END AS ci_hi
        |FROM f""".stripMargin,

    // the engine's drawdown walk verbatim: cent-grid integers, one
    // cumulative-max window, pinned (peak−v)/peak, argmax on
    // (dd desc, ts, tie) — a total order
    // per-subject MAX outcome under each condition (subjects seen
    // under both only), exact integer discordant cells, pinned
    // (b-c)^2/(b+c) and Edwards-corrected closings
    "q348_mcnemar" ->
      """WITH b AS (SELECT ((user_id % 4) + 4) % 4 AS k,
        |    user_id AS s, event_type AS cond, value >= 110 AS y
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IN ('click', 'view')),
        |p AS (SELECT k, s,
        |    max(CASE WHEN cond = 'click' THEN y END) AS ya,
        |    max(CASE WHEN cond = 'view' THEN y END) AS yb
        |  FROM b GROUP BY 1, 2),
        |q AS (SELECT * FROM p WHERE ya IS NOT NULL
        |  AND yb IS NOT NULL),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN ya AND NOT yb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN NOT ya AND yb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM q GROUP BY 1)
        |SELECT k AS cohort, n_pairs, b, c,
        |  CASE WHEN b + c > 0 THEN
        |    (CAST(b AS DOUBLE) - CAST(c AS DOUBLE))
        |      * (CAST(b AS DOUBLE) - CAST(c AS DOUBLE))
        |      / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) END AS chi2,
        |  CASE WHEN b + c > 0 THEN
        |    (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
        |      * (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
        |      / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) END AS chi2_cc
        |FROM g""".stripMargin,

    // the engine's (n, level, trend) stream state replayed as a
    // per-key fold: seed [1, x0, 0], then the same pinned
    // l' = a*x + (1-a)(l+b), b' = B(l'-l) + (1-B)b chains with
    // in-expression complements; final row = max-n state
    "q376_stream_holt" ->
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
        |FROM f""".stripMargin,

    // the q218 KM grid verbatim, survival snapped to the 9-decimal
    // grid (round(exp(log_surv), 9) — the transcendental-rounding
    // discipline), then the time-order segment fold clamped at the
    // 30-day horizon with the pinned open-tail closing
    "q374_rmst" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS dd FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |per AS (SELECT user_id, min(dd) AS first_d, max(dd) AS last_d
        |        FROM e GROUP BY 1),
        |mx AS (SELECT max(last_d) AS mxd FROM per),
        |subj AS (SELECT date_trunc('month', first_d) AS cohort,
        |    CAST(last_d - first_d AS BIGINT) AS t,
        |    (mxd - last_d) >= 7 AS obs
        |  FROM per CROSS JOIN mx),
        |g AS (SELECT cohort, t,
        |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY 1, 2),
        |r AS (SELECT *,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort) AS BIGINT)
        |      AS tot,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS cum
        |  FROM g),
        |k AS (SELECT cohort, t, tot - cum + d + c AS n_risk, d, c
        |  FROM r),
        |f AS (SELECT *, CASE WHEN n_risk > d THEN
        |    CAST(round(ln(CAST(n_risk - d AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE)), 9) AS DECIMAL(12,9)) END AS lf
        |  FROM k),
        |ls AS (SELECT cohort, t, d,
        |    CASE WHEN lf IS NOT NULL THEN
        |      CAST(sum(lf) OVER (PARTITION BY cohort ORDER BY t)
        |        AS DOUBLE)
        |    END AS log_surv
        |  FROM f),
        |sv AS (SELECT cohort, t, d,
        |    CASE WHEN log_surv IS NOT NULL
        |      THEN round(exp(log_surv), 9) ELSE 0.0 END AS s
        |  FROM ls),
        |g2 AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_times,
        |    CAST(sum(d) AS BIGINT) AS n_events,
        |    list_reduce(list_prepend([0.0, 0.0, 1.0],
        |      list([CAST(t AS DOUBLE), s] ORDER BY t)),
        |    (acc, p) -> [
        |      acc[1] + CASE WHEN least(p[1], 30.0) > acc[2]
        |        THEN acc[3] * (least(p[1], 30.0) - acc[2])
        |        ELSE 0.0 END,
        |      greatest(acc[2], least(p[1], 30.0)),
        |      p[2]]) AS m
        |  FROM sv GROUP BY 1)
        |SELECT cohort, n_times, n_events,
        |  m[1] + CASE WHEN m[2] < 30.0
        |    THEN m[3] * (30.0 - m[2]) ELSE 0.0 END AS rmst
        |FROM g2""".stripMargin,

    // the q211 doubled-rank U machinery keyed by cohort with the
    // click/view arms, closed by delta = 2*U_a/(n_a*n_b) - 1
    "q375_cliffs_delta" ->
      """WITH e AS (SELECT ((user_id % 4) + 4) % 4 AS k,
        |    event_type AS arm, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IN ('click', 'view')),
        |g AS (SELECT k, v,
        |    CAST(sum(CASE WHEN arm = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN arm = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2),
        |r AS (SELECT *, CAST(sum(c) OVER (PARTITION BY k
        |    ORDER BY v) AS BIGINT) AS cum FROM g),
        |r2 AS (SELECT *, 2 * cum - c + 1 AS dr FROM r),
        |m AS (SELECT k,
        |    CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    sum(CAST(ca * dr AS DECIMAL(38,0))) AS ra2
        |  FROM r2 GROUP BY 1),
        |d AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS na,
        |    CAST(n_b AS DOUBLE) AS nb, CAST(ra2 AS DOUBLE) AS ra2d
        |  FROM m),
        |z AS (SELECT *, ra2d / 2.0 - na * (na + 1.0) / 2.0 AS ua
        |  FROM d)
        |SELECT k AS cohort, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN ua END AS u_a,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN 2.0 * ua / (na * nb) - 1.0 END AS delta
        |FROM z""".stripMargin,

    // the engine's mode-anchored pmf recurrence replayed as two
    // recursive walks (up and down from the closed-form mode), the
    // SAME pinned f*(int*int)/(int*int) chains, tail sums folded in
    // k order with the 1+1e-7 two-sided tolerance
    "q373_fisher_exact" ->
      """WITH RECURSIVE b0 AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS ex, value >= 150 AS oc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (SELECT k,
        |    CAST(sum(CASE WHEN ex AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b2,
        |    CAST(sum(CASE WHEN NOT ex AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN NOT ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM b0 GROUP BY 1),
        |m0 AS (SELECT *, a + b2 AS r1, a + c AS c1,
        |    a + b2 + c + d AS n FROM cells),
        |m2 AS (SELECT *, greatest(0, r1 + c1 - n) AS kmin,
        |    least(r1, c1) AS kmax,
        |    least(greatest((r1 + 1) * (c1 + 1) // (n + 2),
        |      greatest(0, r1 + c1 - n)), least(r1, c1)) AS kstar
        |  FROM m0),
        |up AS (SELECT k, kstar AS kk, CAST(1.0 AS DOUBLE) AS f,
        |    r1, c1, n, kmax FROM m2
        |  UNION ALL SELECT k, kk + 1,
        |    f * CAST((r1 - kk) * (c1 - kk) AS DOUBLE)
        |      / CAST((kk + 1) * (n - r1 - c1 + kk + 1) AS DOUBLE),
        |    r1, c1, n, kmax
        |  FROM up WHERE kk < kmax),
        |dn AS (SELECT k, kstar AS kk, CAST(1.0 AS DOUBLE) AS f,
        |    r1, c1, n, kmin, kstar FROM m2
        |  UNION ALL SELECT k, kk - 1,
        |    f * CAST(kk * (n - r1 - c1 + kk) AS DOUBLE)
        |      / CAST((r1 - kk + 1) * (c1 - kk + 1) AS DOUBLE),
        |    r1, c1, n, kmin, kstar
        |  FROM dn WHERE kk > kmin),
        |pmf AS (SELECT k, kk, f FROM up
        |  UNION ALL SELECT k, kk, f FROM dn WHERE kk < kstar),
        |g AS (SELECT p.k, m2.a,
        |    max(CASE WHEN p.kk = m2.a THEN p.f END) AS fobs,
        |    list([p.f, CAST(p.kk AS DOUBLE)] ORDER BY p.kk) AS lst
        |  FROM pmf p JOIN m2 ON m2.k = p.k GROUP BY 1, 2),
        |g2 AS (SELECT k, a,
        |    list_reduce(list_prepend([0.0], lst),
        |      (acc, q) -> [acc[1] + q[1]])[1] AS total,
        |    list_reduce(list_prepend([0.0], lst),
        |      (acc, q) -> [acc[1] + CASE WHEN q[1]
        |        <= fobs * (1.0 + 1e-7) THEN q[1]
        |        ELSE 0.0 END])[1] AS p2,
        |    list_reduce(list_prepend([0.0], lst),
        |      (acc, q) -> [acc[1] + CASE WHEN q[2]
        |        >= CAST(a AS DOUBLE) THEN q[1]
        |        ELSE 0.0 END])[1] AS pg
        |  FROM g)
        |SELECT m2.k AS event_type, m2.n, m2.a, m2.b2 AS b, m2.c,
        |  m2.d, g2.p2 / g2.total AS p_two_sided,
        |  g2.pg / g2.total AS p_greater
        |FROM m2 JOIN g2 ON g2.k = m2.k""".stripMargin,

    // exact integer CDF-gap area on the cents grid: HUGEINT sum of
    // gap*dv, routed to double via VARCHAR (q351 lesson), pinned
    // two-division closing
    "q378_wasserstein1" ->
      """WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k,
        |    sum(ca) OVER (PARTITION BY k ORDER BY v) AS cuma,
        |    sum(cb) OVER (PARTITION BY k ORDER BY v) AS cumb,
        |    sum(ca) OVER (PARTITION BY k) AS na,
        |    sum(cb) OVER (PARTITION BY k) AS nb,
        |    coalesce(lead(v) OVER (PARTITION BY k ORDER BY v) - v, 0)
        |      AS dv
        |  FROM grid),
        |f AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    sum(abs(cuma * nb - cumb * na) * dv) AS s
        |  FROM st GROUP BY 1)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    CAST(CAST(s AS VARCHAR) AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 100.0
        |  END AS w1
        |FROM f""".stripMargin,

    // friedman's doubled-rank grid with raters as blocks, complete
    // raters only, exact R2/tie moments, pinned W closing
    "q379_kendalls_w" ->
      """WITH b AS (SELECT ((user_id % 3) + 3) % 3 AS panel,
        |    ((user_id % 7) + 7) % 7 AS rater, event_type AS item,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cell AS (SELECT panel, rater, item, CAST(sum(c) AS BIGINT)
        |    AS vc FROM b GROUP BY 1, 2, 3),
        |d AS (SELECT *, dense_rank() OVER (PARTITION BY panel
        |    ORDER BY item) AS dr FROM cell),
        |e AS (SELECT *, max(dr) OVER (PARTITION BY panel) AS kk,
        |    count(*) OVER (PARTITION BY panel, rater) AS rc FROM d),
        |r AS (SELECT panel, rater, item, vc,
        |    2 * rank() OVER (PARTITION BY panel, rater ORDER BY vc)
        |      + count(*) OVER (PARTITION BY panel, rater, vc) - 1
        |      AS r2,
        |    count(*) OVER (PARTITION BY panel, rater, vc) AS t,
        |    row_number() OVER (PARTITION BY panel, rater, vc
        |      ORDER BY item) AS rn
        |  FROM e WHERE rc = kk),
        |pi AS (SELECT panel, item, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r2) AS BIGINT) AS R2,
        |    CAST(sum(CASE WHEN rn = 1 THEN t * t * t - t ELSE 0 END)
        |      AS BIGINT) AS tt
        |  FROM r GROUP BY 1, 2),
        |g AS (SELECT panel, max(n) AS nr,
        |    CAST(count(*) AS BIGINT) AS ki,
        |    CAST(sum(R2 * R2) AS DOUBLE) AS sr2,
        |    CAST(sum(tt) AS BIGINT) AS ts FROM pi GROUP BY 1),
        |x AS (SELECT *, CAST(nr AS DOUBLE) AS nd,
        |    CAST(ki AS DOUBLE) AS kd, CAST(ki AS DOUBLE) + 1.0 AS kp1
        |  FROM g),
        |z AS (SELECT *,
        |    3.0 * (sr2 - nd * nd * kd * kp1 * kp1) AS num,
        |    nd * nd * kd * (kd * kd - 1.0) - nd * CAST(ts AS DOUBLE)
        |      AS den FROM x)
        |SELECT panel, nr AS n_raters, ki AS k_items, ts AS tie_sum,
        |  CASE WHEN ki >= 2 AND den > 0.0 THEN num / den END AS w
        |FROM z""".stripMargin,

    // the q213 BH fixture with the step-down running MAX of
    // (m - rank + 1) * p in ascending-p order, capped at 1
    "q380_holm_bonferroni" ->
      """WITH d AS (SELECT lang, doc_id,
        |    (('0x' || substr(md5(doc_id::VARCHAR || 'hb1'), 1, 8))::BIGINT
        |      / 4294967296.0) AS u
        |  FROM documents),
        |p0 AS (SELECT lang, doc_id, u * u AS p FROM d
        |  WHERE u IS NOT NULL),
        |r AS (SELECT lang, doc_id, p,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY p, doc_id) AS BIGINT) AS "rank",
        |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS m
        |  FROM p0),
        |a AS (SELECT lang, doc_id, p, "rank",
        |    least(1.0, max(CAST(m - "rank" + 1 AS DOUBLE) * p) OVER (
        |      PARTITION BY lang ORDER BY p ASC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS p_adj
        |  FROM r)
        |SELECT lang, doc_id, p, "rank", p_adj,
        |  p_adj <= 0.3 AS significant
        |FROM a""".stripMargin,

    // exact integer cells, pinned proportion divisions, arcsines
    // snapped to the 1e-9 grid before the closing subtraction
    "q381_cohens_h" ->
      """WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    value >= 150 AS oc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |m AS (SELECT k,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN arm = 'a' AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x1,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(sum(CASE WHEN arm = 'b' AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x2
        |  FROM b GROUP BY 1),
        |z AS (SELECT *, CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
        |    CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2 FROM m)
        |SELECT k AS event_type, n1 AS n_1, n2 AS n_2,
        |  CASE WHEN n1 > 0 THEN p1 END AS p_1,
        |  CASE WHEN n2 > 0 THEN p2 END AS p_2,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    2.0 * round(asin(sqrt(p1)), 9)
        |      - 2.0 * round(asin(sqrt(p2)), 9) END AS h
        |FROM z""".stripMargin,

    // exact integer 2x2 cells, pinned risk divisions, ln snapped to
    // the 1e-9 grid, fixed left-to-right Wald SE chains
    "q382_risk_ratio" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS ex, value >= 150 AS oc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (SELECT k,
        |    CAST(sum(CASE WHEN ex AND oc THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(sum(CASE WHEN ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b2,
        |    CAST(sum(CASE WHEN NOT ex AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN NOT ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM b GROUP BY 1),
        |z AS (SELECT *, a + b2 AS n1, c + d AS n0 FROM cells),
        |y AS (SELECT *, CAST(a AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
        |    CAST(c AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0 FROM z),
        |w AS (SELECT *,
        |    round(ln(CASE WHEN a > 0 AND c > 0 AND n1 > 0 AND n0 > 0
        |      THEN p1 / p0 END), 9) AS logrr,
        |    sqrt(1.0 / CAST(a AS DOUBLE) - 1.0 / CAST(n1 AS DOUBLE)
        |      + 1.0 / CAST(c AS DOUBLE) - 1.0 / CAST(n0 AS DOUBLE))
        |      AS selog,
        |    p1 - p0 AS rd,
        |    sqrt(p1 * (1.0 - p1) / CAST(n1 AS DOUBLE)
        |      + p0 * (1.0 - p0) / CAST(n0 AS DOUBLE)) AS serd
        |  FROM y)
        |SELECT k AS event_type, a, b2 AS b, c, d,
        |  CASE WHEN n1 > 0 AND n0 > 0 AND c > 0 THEN p1 / p0 END
        |    AS risk_ratio,
        |  CASE WHEN n1 > 0 AND n0 > 0 AND c > 0 AND a > 0 THEN logrr
        |    END AS log_rr,
        |  CASE WHEN n1 > 0 AND n0 > 0 AND c > 0 AND a > 0
        |    THEN logrr - 1.96 * selog END AS log_rr_lo,
        |  CASE WHEN n1 > 0 AND n0 > 0 AND c > 0 AND a > 0
        |    THEN logrr + 1.96 * selog END AS log_rr_hi,
        |  CASE WHEN n1 > 0 AND n0 > 0 THEN rd END AS risk_diff,
        |  CASE WHEN n1 > 0 AND n0 > 0 THEN rd - 1.96 * serd END
        |    AS rd_lo,
        |  CASE WHEN n1 > 0 AND n0 > 0 THEN rd + 1.96 * serd END
        |    AS rd_hi,
        |  CASE WHEN n1 > 0 AND n0 > 0 AND rd <> 0.0
        |    THEN 1.0 / abs(rd) END AS nnt
        |FROM w""".stripMargin,

    // deliberately-bad plan over nation/region/orders: the lint
    // report is a PLAN-SHAPE pin (fixed Spark version + session
    // config => deterministic rows) — cartesian + merge-hinted tiny
    // join + global window/sort + udf + length() filter fire their
    // rules; the window machinery leaves 3 interpreted projections;
    // the 3 shuffles stay under the default ceiling of 4
    // the q377 argument, continuously: executed-plan shapes are
    // deterministic per Spark version + config, so the listener's
    // action x rule report pins to literal rows — action 0 is the
    // clean keyed count (2 exchanges: partial->final agg + the
    // count's single-partition close), action 1 the deliberate
    // global row_number (the one warn; its count() collapses the
    // window stage so no separate exchange row)
    "q411_lint_listener" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'count', 'broadcastable-join', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'cartesian-join', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'exchange-count', 'ok', CAST(2 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'filter-not-pushed', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'full-width-scan', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'global-sort', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'global-window', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'interpreted-stage', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'nested-loop-join', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'partition-filter-missing', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'scala-udf', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'broadcastable-join', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'cartesian-join', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'exchange-count', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'filter-not-pushed', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'full-width-scan', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'global-sort', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'global-window', 'warn', CAST(1 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'interpreted-stage', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'nested-loop-join', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'partition-filter-missing', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'scala-udf', 'ok', CAST(0 AS BIGINT))
        |) AS t(action, func, rule, status, n)""".stripMargin,

    "q377_plan_lint" ->
      """SELECT * FROM (VALUES
        |  ('broadcastable-join', 'warn', CAST(1 AS BIGINT)),
        |  ('cartesian-join', 'warn', CAST(1 AS BIGINT)),
        |  ('exchange-count', 'ok', CAST(3 AS BIGINT)),
        |  ('filter-not-pushed', 'warn', CAST(1 AS BIGINT)),
        |  ('full-width-scan', 'ok', CAST(0 AS BIGINT)),
        |  ('global-sort', 'warn', CAST(1 AS BIGINT)),
        |  ('global-window', 'warn', CAST(1 AS BIGINT)),
        |  ('interpreted-stage', 'warn', CAST(3 AS BIGINT)),
        |  ('nested-loop-join', 'ok', CAST(0 AS BIGINT)),
        |  ('partition-filter-missing', 'ok', CAST(0 AS BIGINT)),
        |  ('scala-udf', 'warn', CAST(1 AS BIGINT))
        |) AS t(rule, status, n)""".stripMargin,

    // q349's complete-block grid + range-ranked block weights,
    // quadrupled integer scores, VARCHAR-routed exact moments
    "q395_quade" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 50) + 50) % 50 AS blk,
        |    ((event_id % 3) + 3) % 3 AS trt,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
        |cell AS (SELECT k, blk, trt, CAST(sum(c) AS BIGINT) AS vc
        |  FROM b GROUP BY 1, 2, 3),
        |d AS (SELECT *, dense_rank() OVER (PARTITION BY k
        |    ORDER BY trt) AS dr FROM cell),
        |e AS (SELECT *, max(dr) OVER (PARTITION BY k) AS kk,
        |    count(*) OVER (PARTITION BY k, blk) AS bc FROM d),
        |comp AS (SELECT *, max(vc) OVER (PARTITION BY k, blk)
        |      - min(vc) OVER (PARTITION BY k, blk) AS rng
        |  FROM e WHERE bc = kk),
        |blocks AS (SELECT k, blk, max(rng) AS rng
        |  FROM comp GROUP BY 1, 2),
        |q2 AS (SELECT k, blk,
        |    2 * rank() OVER (PARTITION BY k ORDER BY rng)
        |      + count(*) OVER (PARTITION BY k, rng) - 1 AS q2r
        |  FROM blocks),
        |r AS (SELECT comp.k, comp.blk, comp.trt, comp.kk,
        |    2 * rank() OVER (PARTITION BY comp.k, comp.blk
        |      ORDER BY vc)
        |      + count(*) OVER (PARTITION BY comp.k, comp.blk, vc) - 1
        |      AS r2, q2.q2r
        |  FROM comp JOIN q2 ON q2.k = comp.k AND q2.blk = comp.blk),
        |s4 AS (SELECT k, trt, q2r * (r2 - (kk + 1)) AS s4 FROM r),
        |pt AS (SELECT k, trt, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(s4) AS BIGINT) AS w4, sum(s4 * s4) AS sq
        |  FROM s4 GROUP BY 1, 2),
        |g AS (SELECT k, max(n) AS nb, CAST(count(*) AS BIGINT) AS kt,
        |    sum(CAST(w4 AS HUGEINT) * CAST(w4 AS HUGEINT)) AS sw2,
        |    sum(sq) AS a16 FROM pt GROUP BY 1),
        |z AS (SELECT k, nb, kt, CAST(nb AS DOUBLE) AS nd,
        |    CAST(CAST(sw2 AS VARCHAR) AS DOUBLE) AS dsw,
        |    CAST(CAST(a16 AS VARCHAR) AS DOUBLE) AS da FROM g)
        |SELECT k AS event_type, nb AS n_blocks, kt AS k_treatments,
        |  CASE WHEN kt >= 2 AND da - dsw / nd > 0.0
        |    THEN (nd - 1.0) * (dsw / nd) / (da - dsw / nd) END AS f
        |FROM z""".stripMargin,

    // cross-scaled integer deviations (common n_a*n_b factor keeps
    // the pooled order), doubled midranks, exact squared-rank
    // moments, pinned z closing
    "q396_conover_squared_ranks" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS a,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |s AS (SELECT *,
        |    sum(CASE WHEN a THEN 1 ELSE 0 END) OVER (PARTITION BY k)
        |      AS na,
        |    sum(CASE WHEN a THEN 0 ELSE 1 END) OVER (PARTITION BY k)
        |      AS nb,
        |    sum(CASE WHEN a THEN v ELSE 0 END) OVER (PARTITION BY k)
        |      AS sa,
        |    sum(CASE WHEN a THEN 0 ELSE v END) OVER (PARTITION BY k)
        |      AS sb
        |  FROM b),
        |devs AS (SELECT k, a, na, nb,
        |    CASE WHEN a THEN abs(na * nb * v - nb * sa)
        |      ELSE abs(na * nb * v - na * sb) END AS dev
        |  FROM s),
        |r AS (SELECT *, 2 * rank() OVER (PARTITION BY k ORDER BY dev)
        |      + count(*) OVER (PARTITION BY k, dev) - 1 AS r2
        |  FROM devs),
        |sc AS (SELECT k, a, na, nb, r2 * r2 AS sq FROM r),
        |m AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    sum(CASE WHEN a THEN sq END) AS t4,
        |    sum(sq) AS ss, sum(CAST(sq AS HUGEINT) * sq) AS sqq
        |  FROM sc GROUP BY 1),
        |z AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS nd,
        |    CAST(n_b AS DOUBLE) AS md,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS bigN,
        |    CAST(CAST(t4 AS VARCHAR) AS DOUBLE) AS dt4,
        |    CAST(CAST(ss AS VARCHAR) AS DOUBLE) AS dss,
        |    CAST(CAST(sqq AS VARCHAR) AS DOUBLE) AS dsq FROM m)
        |SELECT k AS event_type, n_a, n_b, dt4 AS t4,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND
        |    nd * md * (bigN * dsq - dss * dss)
        |      / (bigN * bigN * (bigN - 1.0)) > 0.0
        |  THEN (dt4 - nd * dss / bigN)
        |    / sqrt(nd * md * (bigN * dsq - dss * dss)
        |      / (bigN * bigN * (bigN - 1.0))) END AS z
        |FROM z""".stripMargin,

    // exact count / cent-exposure cell sums, pinned rate chains,
    // snapped log-ratio
    "q397_poisson_rate_test" ->
      """WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    ((event_id % 7) + 7) % 7 AS ev,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS ec
        |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
        |    AND user_id IS NOT NULL AND event_type IS NOT NULL),
        |m AS (SELECT k,
        |    CAST(sum(CASE WHEN arm = 'a' THEN ev ELSE 0 END) AS BIGINT)
        |      AS k1,
        |    CAST(sum(CASE WHEN arm = 'a' THEN ec ELSE 0 END) AS BIGINT)
        |      AS e1c,
        |    CAST(sum(CASE WHEN arm = 'b' THEN ev ELSE 0 END) AS BIGINT)
        |      AS k2,
        |    CAST(sum(CASE WHEN arm = 'b' THEN ec ELSE 0 END) AS BIGINT)
        |      AS e2c
        |  FROM b GROUP BY 1),
        |z AS (SELECT *, CAST(e1c AS DOUBLE) / 100.0 AS e1,
        |    CAST(e2c AS DOUBLE) / 100.0 AS e2 FROM m),
        |y AS (SELECT *, CAST(k1 AS DOUBLE) / e1 AS r1,
        |    CAST(k2 AS DOUBLE) / e2 AS r2 FROM z),
        |w AS (SELECT *,
        |    sqrt(CAST(k1 AS DOUBLE) / (e1 * e1)
        |      + CAST(k2 AS DOUBLE) / (e2 * e2)) AS se,
        |    round(ln(CASE WHEN k1 > 0 AND k2 > 0 AND e1c > 0
        |      AND e2c > 0 THEN r1 / r2 END), 9) AS lr,
        |    sqrt(1.0 / CAST(k1 AS DOUBLE) + 1.0 / CAST(k2 AS DOUBLE))
        |      AS sel
        |  FROM y)
        |SELECT k AS event_type, k1 AS k_1, e1 AS exposure_1,
        |  k2 AS k_2, e2 AS exposure_2,
        |  CASE WHEN e1c > 0 THEN r1 END AS rate_1,
        |  CASE WHEN e2c > 0 THEN r2 END AS rate_2,
        |  CASE WHEN e1c > 0 AND e2c > 0 AND se > 0.0
        |    THEN (r1 - r2) / se END AS z,
        |  CASE WHEN e1c > 0 AND e2c > 0 AND k1 > 0 AND k2 > 0
        |    THEN lr END AS log_ratio,
        |  CASE WHEN e1c > 0 AND e2c > 0 AND k1 > 0 AND k2 > 0
        |    THEN lr - 1.96 * sel END AS log_lo,
        |  CASE WHEN e1c > 0 AND e2c > 0 AND k1 > 0 AND k2 > 0
        |    THEN lr + 1.96 * sel END AS log_hi
        |FROM w""".stripMargin,

    // (key, id) presence flags, exact overlap, pinned Chapman
    // estimate + se
    "q398_capture_recapture" ->
      """WITH b AS (SELECT event_type AS k, user_id AS id,
        |    CASE WHEN ((event_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS cap
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
        |ids AS (SELECT k, id,
        |    CAST(max(CASE WHEN cap = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ia,
        |    CAST(max(CASE WHEN cap = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ib
        |  FROM b GROUP BY 1, 2),
        |m AS (SELECT k, CAST(sum(ia) AS BIGINT) AS n_a,
        |    CAST(sum(ib) AS BIGINT) AS n_b,
        |    CAST(sum(ia * ib) AS BIGINT) AS m_overlap
        |  FROM ids GROUP BY 1)
        |SELECT k AS event_type, n_a, n_b, m_overlap,
        |  (CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0)
        |    / (CAST(m_overlap AS DOUBLE) + 1.0) - 1.0 AS chapman_n,
        |  sqrt((CAST(n_a AS DOUBLE) + 1.0)
        |    * (CAST(n_b AS DOUBLE) + 1.0)
        |    * (CAST(n_a AS DOUBLE) - CAST(m_overlap AS DOUBLE))
        |    * (CAST(n_b AS DOUBLE) - CAST(m_overlap AS DOUBLE))
        |    / ((CAST(m_overlap AS DOUBLE) + 1.0)
        |      * (CAST(m_overlap AS DOUBLE) + 1.0)
        |      * (CAST(m_overlap AS DOUBLE) + 2.0))) AS se
        |FROM m""".stripMargin,

    // (key, item) occurrence grid, exact f1/f2, pinned Chao1 and
    // Good-Turing closings
    "q399_chao1" ->
      """WITH items AS (SELECT event_type AS k, user_id AS item,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT k, CAST(count(*) AS BIGINT) AS s_observed,
        |    CAST(sum(c) AS BIGINT) AS n_total,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS f1,
        |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS f2
        |  FROM items GROUP BY 1)
        |SELECT k AS event_type, s_observed, n_total, f1, f2,
        |  CAST(s_observed AS DOUBLE) + CAST(f1 AS DOUBLE)
        |    * (CAST(f1 AS DOUBLE) - 1.0)
        |    / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)) AS chao1,
        |  CAST(f1 AS DOUBLE) / CAST(n_total AS DOUBLE) AS unseen_mass
        |FROM m""".stripMargin,

    // pooled + within-arm doubled midranks per grid row (shared by
    // all tied members), exact placement sums, pinned scipy-form
    // W / Satterthwaite df closing
    // Rank-panel replay: the q400 doubled-midrank grid/placement
    // CTE chain extended with q211's rank-sum/tie sums and closed
    // with all three proven closings (MWU z, Cliff delta, BM
    // p_hat/w/df) — the panel must match ALL THREE at once
    "q413_rank_panel" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS a,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k, v, ca, cb, ca + cb AS t,
        |    coalesce(sum(ca + cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pn,
        |    coalesce(sum(ca) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pa,
        |    coalesce(sum(cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pb
        |  FROM grid),
        |r AS (SELECT k, ca, cb, t,
        |    2 * pn + t + 1 AS r2,
        |    2 * pn + t + 1 - (2 * pa + ca + 1) AS la,
        |    2 * pn + t + 1 - (2 * pb + cb + 1) AS lb
        |  FROM st),
        |m AS (SELECT k, CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    sum(CAST(ca * r2 AS DECIMAL(38,0))) AS sra,
        |    sum(CAST(cb * r2 AS DECIMAL(38,0))) AS srb,
        |    sum(CAST(t * t * t - t AS DECIMAL(38,0))) AS tt,
        |    sum(ca * la) AS sla, sum(la * la * ca) AS sla2,
        |    sum(cb * lb) AS slb, sum(lb * lb * cb) AS slb2
        |  FROM r GROUP BY 1),
        |z0 AS (SELECT k, n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nn,
        |    CAST(sra AS DOUBLE) AS dra, CAST(srb AS DOUBLE) AS drb,
        |    CAST(tt AS DOUBLE) AS td,
        |    CAST(CAST(sla AS VARCHAR) AS DOUBLE) AS dla,
        |    CAST(CAST(sla2 AS VARCHAR) AS DOUBLE) AS dla2,
        |    CAST(CAST(slb AS VARCHAR) AS DOUBLE) AS dlb,
        |    CAST(CAST(slb2 AS VARCHAR) AS DOUBLE) AS dlb2 FROM m),
        |y AS (SELECT *, dra / 2.0 - na * (na + 1.0) / 2.0 AS ua,
        |    na * nb / 12.0 * ((nn + 1.0) - td / (nn * (nn - 1.0)))
        |      AS sig2,
        |    dra / na / 2.0 AS rba, drb / nb / 2.0 AS rbb,
        |    (dla2 - dla * dla / na) / (4.0 * (na - 1.0)) AS sa,
        |    (dlb2 - dlb * dlb / nb) / (4.0 * (nb - 1.0)) AS sb
        |  FROM z0),
        |w0 AS (SELECT *, na * sa + nb * sb AS vs FROM y)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN ua END AS u_a,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN na * nb - ua END AS u_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND sig2 > 0.0
        |    THEN (ua - na * nb / 2.0) / sqrt(sig2) END AS z,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN 2.0 * ua / (na * nb) - 1.0 END AS delta,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN (rbb - (nb + 1.0) / 2.0) / na END AS p_hat,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vs > 0.0
        |    THEN na * nb * (rbb - rba) / (nn * sqrt(vs)) END AS w,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vs > 0.0 AND
        |    (na * sa) * (na * sa) / (na - 1.0)
        |      + (nb * sb) * (nb * sb) / (nb - 1.0) > 0.0
        |  THEN vs * vs
        |    / ((na * sa) * (na * sa) / (na - 1.0)
        |      + (nb * sb) * (nb * sb) / (nb - 1.0)) END AS df
        |FROM w0""".stripMargin,

    "q400_brunner_munzel" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS a,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k, v, ca, cb, ca + cb AS t,
        |    coalesce(sum(ca + cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pn,
        |    coalesce(sum(ca) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pa,
        |    coalesce(sum(cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pb
        |  FROM grid),
        |r AS (SELECT k, ca, cb,
        |    2 * pn + t + 1 AS r2,
        |    2 * pn + t + 1 - (2 * pa + ca + 1) AS la,
        |    2 * pn + t + 1 - (2 * pb + cb + 1) AS lb
        |  FROM st),
        |m AS (SELECT k, CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    sum(ca * r2) AS sra, sum(cb * r2) AS srb,
        |    sum(ca * la) AS sla, sum(la * la * ca) AS sla2,
        |    sum(cb * lb) AS slb, sum(lb * lb * cb) AS slb2
        |  FROM r GROUP BY 1),
        |z AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS nd,
        |    CAST(n_b AS DOUBLE) AS md,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS bigN,
        |    CAST(CAST(sra AS VARCHAR) AS DOUBLE) AS dra,
        |    CAST(CAST(srb AS VARCHAR) AS DOUBLE) AS drb,
        |    CAST(CAST(sla AS VARCHAR) AS DOUBLE) AS dla,
        |    CAST(CAST(sla2 AS VARCHAR) AS DOUBLE) AS dla2,
        |    CAST(CAST(slb AS VARCHAR) AS DOUBLE) AS dlb,
        |    CAST(CAST(slb2 AS VARCHAR) AS DOUBLE) AS dlb2 FROM m),
        |y AS (SELECT *, dra / nd / 2.0 AS rba, drb / md / 2.0 AS rbb,
        |    (dla2 - dla * dla / nd) / (4.0 * (nd - 1.0)) AS sa,
        |    (dlb2 - dlb * dlb / md) / (4.0 * (md - 1.0)) AS sb
        |  FROM z),
        |w AS (SELECT *, nd * sa + md * sb AS vs FROM y)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN (rbb - (md + 1.0) / 2.0) / nd END AS p_hat,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vs > 0.0
        |    THEN nd * md * (rbb - rba) / (bigN * sqrt(vs)) END AS w,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vs > 0.0 AND
        |    (nd * sa) * (nd * sa) / (nd - 1.0)
        |      + (md * sb) * (md * sb) / (md - 1.0) > 0.0
        |  THEN vs * vs
        |    / ((nd * sa) * (nd * sa) / (nd - 1.0)
        |      + (md * sb) * (md * sb) / (md - 1.0)) END AS df
        |FROM w""".stripMargin,

    // exact cells, pinned power-formula chain with the default
    // two-sided-5% / 80%-power quantile literals
    "q401_sample_size" ->
      """WITH b AS (SELECT event_type AS k, value >= 150 AS y
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |m AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM b GROUP BY 1),
        |z AS (SELECT k, n,
        |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p1 FROM m),
        |y AS (SELECT *, p1 + 0.02 AS p2 FROM z),
        |y2 AS (SELECT *, (p1 + p2) / 2.0 AS pbar FROM y),
        |w AS (SELECT *,
        |    1.959963985 * sqrt(2.0 * pbar * (1.0 - pbar))
        |      + 0.841621234 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))
        |      AS num
        |  FROM y2)
        |SELECT k AS event_type, n,
        |  CASE WHEN n > 0 THEN p1 END AS p_base,
        |  CASE WHEN n > 0 AND p2 > 0.0 AND p2 < 1.0 THEN p2 END
        |    AS p_target,
        |  CASE WHEN n > 0 AND p2 > 0.0 AND p2 < 1.0
        |    THEN num * num / (0.02 * 0.02) END AS n_per_arm
        |FROM w""".stripMargin,

    // distinct (key, id) grid, md5-prefix hash, rank cut over the
    // (hash, id) total order
    "q403_bottom_k" ->
      """WITH d AS (SELECT DISTINCT event_type AS k, event_id AS id
        |  FROM events WHERE event_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |h AS (SELECT k, id,
        |    ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT
        |      AS hv
        |  FROM d),
        |r AS (SELECT k, id, CAST(row_number() OVER (PARTITION BY k
        |    ORDER BY hv, id) AS BIGINT) AS rn FROM h)
        |SELECT k AS event_type, id AS event_id, rn AS "rank"
        |FROM r WHERE rn <= 7""".stripMargin,

    // the stream's mergeable sketch replayed flat: per-key row count
    // + the k smallest (hash, id) ids exploded with positions
    "q402_stream_bottom_k" ->
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
        |FROM r JOIN n ON n.k = r.k WHERE rn <= 5""".stripMargin,

    // q364's grid and fold with the Gehan n_t / n_t^2 weights; E
    // accumulates at every event time (the r17 logRank rule), V
    // keeps the n <= 1 neutral zero
    "q390_gehan_wilcoxon" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS g1,
        |    ((user_id % 10) + 10) % 10 < 8 AS ev,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (SELECT k, t,
        |    CAST(sum(CASE WHEN g1 AND ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d1,
        |    CAST(sum(CASE WHEN NOT g1 AND ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d0,
        |    CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c0
        |  FROM b GROUP BY 1, 2),
        |grid AS (SELECT *, sum(c1) OVER (PARTITION BY k) AS T1,
        |    sum(c0) OVER (PARTITION BY k) AS T0,
        |    coalesce(sum(c1) OVER (PARTITION BY k ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS p1,
        |    coalesce(sum(c0) OVER (PARTITION BY k ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS p0
        |  FROM cells),
        |f AS (SELECT k, CAST(sum(d1) AS BIGINT) AS n_events_1,
        |    CAST(sum(d0) AS BIGINT) AS n_events_0,
        |    list_reduce(list_prepend([0.0, 0.0],
        |      list([CAST(d1 AS DOUBLE), CAST(d1 + d0 AS DOUBLE),
        |        CAST(T1 - p1 AS DOUBLE),
        |        CAST(T1 - p1 + T0 - p0 AS DOUBLE)] ORDER BY t)),
        |    (acc, p) -> [
        |      acc[1] + CASE WHEN p[2] > 0.0
        |        THEN p[4] * (p[1] - p[3] / p[4] * p[2])
        |        ELSE 0.0 END,
        |      acc[2] + CASE WHEN p[4] > 1.0 AND p[2] > 0.0
        |        THEN p[4] * p[4] * (p[2] * (p[3] / p[4])
        |          * (1.0 - p[3] / p[4])
        |          * (p[4] - p[2]) / (p[4] - 1.0)) ELSE 0.0 END])
        |      AS m
        |  FROM grid GROUP BY 1)
        |SELECT k AS event_type, n_events_1, n_events_0,
        |  m[1] AS w_stat,
        |  CASE WHEN m[2] > 0.0 THEN m[1] * m[1] / m[2] END AS chi2
        |FROM f""".stripMargin,

    // exact tv/overlap lattice sums (VARCHAR-routed), BC fold of
    // sqrt(ca*cb) in value order, pinned closings
    "q391_distribution_distance" ->
      """WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT *, sum(ca) OVER (PARTITION BY k) AS na,
        |    sum(cb) OVER (PARTITION BY k) AS nb FROM grid),
        |m AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    sum(abs(ca * nb - cb * na)) AS tvn,
        |    sum(least(ca * nb, cb * na)) AS ovn,
        |    list_reduce(list_prepend([CAST(0.0 AS DOUBLE)],
        |      list([CAST(v AS DOUBLE), CAST(ca * cb AS DOUBLE)]
        |        ORDER BY v)),
        |      (acc, p) -> [acc[1] + sqrt(p[2])])[1] AS bcn
        |  FROM st GROUP BY 1),
        |z AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS nd,
        |    CAST(n_b AS DOUBLE) AS md,
        |    CAST(CAST(tvn AS VARCHAR) AS DOUBLE) AS dtv,
        |    CAST(CAST(ovn AS VARCHAR) AS DOUBLE) AS dov, bcn FROM m)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN dtv / (2.0 * nd * md) END AS tv,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN dov / (nd * md) END AS overlap,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN bcn / sqrt(nd * md) END AS bc,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN sqrt(greatest(0.0, 1.0 - bcn / sqrt(nd * md)))
        |  END AS hellinger
        |FROM z""".stripMargin,

    // per-arm value grids joined per key, exact pair-weighted
    // cumulative, integer-div midpoint thresholds
    "q392_hodges_lehmann" ->
      """WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(CAST(floor(value) AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |ga AS (SELECT k, v AS va, CAST(count(*) AS BIGINT) AS ca
        |  FROM b WHERE arm = 'a' GROUP BY 1, 2),
        |gb AS (SELECT k, v AS vb, CAST(count(*) AS BIGINT) AS cb
        |  FROM b WHERE arm = 'b' GROUP BY 1, 2),
        |diffs AS (SELECT ga.k, va - vb AS dd,
        |    CAST(sum(ca * cb) AS BIGINT) AS w
        |  FROM ga JOIN gb ON ga.k = gb.k GROUP BY 1, 2),
        |st AS (SELECT k, dd, w,
        |    CAST(sum(w) OVER (PARTITION BY k ORDER BY dd) AS BIGINT)
        |      AS cum,
        |    CAST(sum(w) OVER (PARTITION BY k) AS BIGINT) AS tw
        |  FROM diffs),
        |m AS (SELECT k, max(tw) AS n_pairs,
        |    min(CASE WHEN cum >= (tw + 1) // 2 THEN dd END) AS lo,
        |    min(CASE WHEN cum >= tw // 2 + 1 THEN dd END) AS hi
        |  FROM st GROUP BY 1),
        |counts AS (SELECT k,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b
        |  FROM b GROUP BY 1)
        |SELECT counts.k AS event_type, n_a, n_b,
        |  coalesce(n_pairs, 0) AS n_pairs,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    (CAST(lo AS DOUBLE) + CAST(hi AS DOUBLE)) / 2.0 / 100.0
        |  END AS hl_shift
        |FROM counts LEFT JOIN m ON counts.k = m.k""".stripMargin,

    // q218's KM replay + snapped survival and conditional-min
    // quantile read-offs
    "q393_survival_quantiles" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |per AS (SELECT user_id, min(d) AS first_d, max(d) AS last_d
        |        FROM e GROUP BY 1),
        |mx AS (SELECT max(last_d) AS mxd FROM per),
        |subj AS (SELECT date_trunc('month', first_d) AS cohort,
        |    CAST(last_d - first_d AS BIGINT) AS t,
        |    (mxd - last_d) >= 7 AS obs
        |  FROM per CROSS JOIN mx),
        |g AS (SELECT cohort, t,
        |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY 1, 2),
        |r AS (SELECT *,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort) AS BIGINT) AS tot,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS cum
        |  FROM g),
        |k AS (SELECT cohort, t, tot - cum + d + c AS n_risk, d, c FROM r),
        |f AS (SELECT *, CASE WHEN n_risk > d THEN
        |    CAST(round(ln(CAST(n_risk - d AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE)), 9) AS DECIMAL(12,9)) END AS lf
        |  FROM k),
        |km AS (SELECT cohort, t, d,
        |    CASE WHEN lf IS NOT NULL THEN
        |      CAST(sum(lf) OVER (PARTITION BY cohort ORDER BY t)
        |        AS DOUBLE)
        |    END AS log_surv
        |  FROM f),
        |sv AS (SELECT cohort, t, d,
        |    CASE WHEN log_surv IS NOT NULL
        |      THEN round(exp(log_surv), 9) ELSE 0.0 END AS s
        |  FROM km)
        |SELECT cohort, CAST(count(*) AS BIGINT) AS n_times,
        |  CAST(sum(d) AS BIGINT) AS n_events,
        |  min(CASE WHEN d > 0 AND s <= 0.75 THEN t END) AS t_25,
        |  min(CASE WHEN d > 0 AND s <= 0.50 THEN t END) AS median_t,
        |  min(CASE WHEN d > 0 AND s <= 0.25 THEN t END) AS t_75
        |FROM sv GROUP BY 1""".stripMargin,

    // order-free per-key cent sums: the stream's fold state replayed
    // as plain aggregation (the strongest batch = stream parity)
    "q394_stream_tracking_signal" ->
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
        |FROM z""".stripMargin,

    // (keys, cents) grid, list_reduce fold of c*sqrt(v) in value
    // order, pinned 1 - r^2/(n*s) closing
    "q383_atkinson" ->
      """WITH b AS (SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND value >= 0
        |    AND event_type IS NOT NULL),
        |g AS (SELECT k, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |f AS (SELECT k, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(v * c) AS BIGINT) AS s,
        |    list_reduce(list_prepend([CAST(0.0 AS DOUBLE)],
        |      list([CAST(v AS DOUBLE), CAST(c AS DOUBLE)] ORDER BY v)),
        |      (acc, p) -> [acc[1] + p[2] * sqrt(p[1])])[1] AS r
        |  FROM g GROUP BY 1)
        |SELECT k AS event_type, n,
        |  CASE WHEN s > 0 THEN
        |    1.0 - r * r / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
        |  END AS atkinson
        |FROM f""".stripMargin,

    // pooled-grid doubled midranks, tripled integer contribution
    // polynomial per arm, VARCHAR-routed exact sums, pinned closing
    "q384_cramer_von_mises" ->
      """WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k, v, ca, cb, ca + cb AS t,
        |    coalesce(sum(ca + cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pn,
        |    coalesce(sum(ca) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pa,
        |    coalesce(sum(cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pb
        |  FROM grid),
        |c3 AS (SELECT k, ca, cb,
        |    3 * ca * (2 * pn + t + 1 - 2 * pa)
        |      * (2 * pn + t + 1 - 2 * pa)
        |      - 6 * (2 * pn + t + 1 - 2 * pa) * ca * (ca + 1)
        |      + 2 * ca * (ca + 1) * (2 * ca + 1) AS sa,
        |    3 * cb * (2 * pn + t + 1 - 2 * pb)
        |      * (2 * pn + t + 1 - 2 * pb)
        |      - 6 * (2 * pn + t + 1 - 2 * pb) * cb * (cb + 1)
        |      + 2 * cb * (cb + 1) * (2 * cb + 1) AS sb
        |  FROM st),
        |m AS (SELECT k, CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    sum(sa) AS s12a, sum(sb) AS s12b FROM c3 GROUP BY 1),
        |z AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS nd,
        |    CAST(n_b AS DOUBLE) AS md,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nm,
        |    CAST(CAST(s12a AS VARCHAR) AS DOUBLE) AS da,
        |    CAST(CAST(s12b AS VARCHAR) AS DOUBLE) AS db FROM m)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    (nd * da + md * db) / (12.0 * nd * md * nm)
        |      - (4.0 * nd * md - 1.0) / (6.0 * nm)
        |  END AS t
        |FROM z""".stripMargin,

    // ksTest's lattice with BOTH signed gap extremes kept
    "q385_kuiper" ->
      """WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k,
        |    sum(ca) OVER (PARTITION BY k ORDER BY v) AS cuma,
        |    sum(cb) OVER (PARTITION BY k ORDER BY v) AS cumb,
        |    sum(ca) OVER (PARTITION BY k) AS na,
        |    sum(cb) OVER (PARTITION BY k) AS nb
        |  FROM grid),
        |m AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    CAST(greatest(max(cuma * nb - cumb * na), 0) AS BIGINT)
        |      AS v_plus_num,
        |    CAST(greatest(-min(cuma * nb - cumb * na), 0) AS BIGINT)
        |      AS v_minus_num
        |  FROM st GROUP BY 1)
        |SELECT k AS event_type, n_a, n_b, v_plus_num, v_minus_num,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    CAST(v_plus_num + v_minus_num AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |  END AS v
        |FROM m""".stripMargin,

    // CDF-integral pairwise expectations: segment sums of
    // straddling-pair counts, VARCHAR-routed, pinned closing
    "q386_energy_distance" ->
      """WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k,
        |    sum(ca) OVER (PARTITION BY k ORDER BY v) AS cuma,
        |    sum(cb) OVER (PARTITION BY k ORDER BY v) AS cumb,
        |    sum(ca) OVER (PARTITION BY k) AS na,
        |    sum(cb) OVER (PARTITION BY k) AS nb,
        |    coalesce(lead(v) OVER (PARTITION BY k ORDER BY v) - v, 0)
        |      AS dv
        |  FROM grid),
        |m AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    sum((cuma * (nb - cumb) + cumb * (na - cuma)) * dv) AS sxy,
        |    sum(cuma * (na - cuma) * dv) AS sxx,
        |    sum(cumb * (nb - cumb) * dv) AS syy
        |  FROM st GROUP BY 1),
        |z AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS nd,
        |    CAST(n_b AS DOUBLE) AS md,
        |    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dxy,
        |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dxx,
        |    CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dyy FROM m)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    (2.0 * dxy / (nd * md) - 2.0 * dxx / (nd * nd)
        |      - 2.0 * dyy / (md * md)) / 100.0
        |  END AS energy
        |FROM z""".stripMargin,

    // ascending exact-integer decile cut, cumulative cents, pinned
    // share divisions (tie assignment is mass-invariant)
    "q387_lorenz_curve" ->
      """WITH b AS (SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND value >= 0
        |    AND event_type IS NOT NULL),
        |r AS (SELECT k, c,
        |    row_number() OVER (PARTITION BY k ORDER BY c) AS rn,
        |    count(*) OVER (PARTITION BY k) AS n FROM b),
        |bk AS (SELECT k,
        |    CAST(floor(CAST((rn - 1) * 10 AS DOUBLE)
        |      / CAST(n AS DOUBLE)) AS BIGINT) + 1 AS bucket, c
        |  FROM r),
        |g AS (SELECT k, bucket, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS m FROM bk GROUP BY 1, 2),
        |f AS (SELECT k, bucket, n,
        |    CAST(sum(n) OVER (PARTITION BY k ORDER BY bucket)
        |      AS BIGINT) AS cum_n,
        |    CAST(sum(m) OVER (PARTITION BY k ORDER BY bucket)
        |      AS BIGINT) AS cm,
        |    CAST(sum(m) OVER (PARTITION BY k) AS BIGINT) AS tot
        |  FROM g)
        |SELECT k AS event_type, bucket, n, cum_n,
        |  CAST(cm AS DOUBLE) / 100.0 AS cum_mass,
        |  CASE WHEN tot > 0 THEN CAST(cm AS DOUBLE)
        |    / CAST(tot AS DOUBLE) END AS cum_share
        |FROM f""".stripMargin,

    // exact cent sums of squares (VARCHAR-routed), naive-lag
    // denominator on the (ts, event_id) order, pinned sqrt chains
    "q388_theil_u" ->
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS ac,
        |    CAST(CAST(value + CAST(((event_id % 5) + 5) % 5 - 2
        |      AS DOUBLE) AS DECIMAL(18,2)) * 100 AS BIGINT) AS fc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |w AS (SELECT *, fc - ac AS e,
        |    ac - lag(ac) OVER (PARTITION BY k ORDER BY ts, event_id)
        |      AS nd FROM b),
        |m AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    sum(e * e) AS see, sum(ac * ac) AS saa,
        |    sum(fc * fc) AS sff, sum(nd * nd) AS snn,
        |    sum(CASE WHEN nd IS NOT NULL THEN e * e END) AS sel
        |  FROM w GROUP BY 1),
        |z AS (SELECT k, n, CAST(n AS DOUBLE) AS ndb,
        |    CAST(CAST(see AS VARCHAR) AS DOUBLE) AS dee,
        |    CAST(CAST(saa AS VARCHAR) AS DOUBLE) AS daa,
        |    CAST(CAST(sff AS VARCHAR) AS DOUBLE) AS dff,
        |    CAST(CAST(snn AS VARCHAR) AS DOUBLE) AS dnn,
        |    CAST(CAST(sel AS VARCHAR) AS DOUBLE) AS del FROM m)
        |SELECT k AS event_type, n,
        |  CASE WHEN sqrt(daa / ndb) + sqrt(dff / ndb) > 0.0 THEN
        |    sqrt(dee / ndb) / (sqrt(daa / ndb) + sqrt(dff / ndb))
        |  END AS u1,
        |  CASE WHEN dnn IS NOT NULL AND dnn > 0.0 THEN
        |    sqrt(del) / sqrt(dnn) END AS u2
        |FROM z""".stripMargin,

    // order-free signed/absolute cent error sums, pinned unit and
    // TS closings
    "q389_tracking_signal" ->
      """WITH b AS (SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS ac,
        |    CAST(CAST(value + CAST(((event_id % 5) + 5) % 5 - 2
        |      AS DOUBLE) AS DECIMAL(18,2)) * 100 AS BIGINT) AS fc
        |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |m AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    sum(ac - fc) AS se, sum(abs(ac - fc)) AS sae
        |  FROM b GROUP BY 1),
        |z AS (SELECT k, n, CAST(n AS DOUBLE) AS ndb,
        |    CAST(CAST(se AS VARCHAR) AS DOUBLE) AS dse,
        |    CAST(CAST(sae AS VARCHAR) AS DOUBLE) AS dae FROM m)
        |SELECT k AS event_type, n, dse / 100.0 AS cum_error,
        |  dae / ndb / 100.0 AS mad,
        |  CASE WHEN dae > 0.0 THEN dse / (dae / ndb) END
        |    AS tracking_signal
        |FROM z""".stripMargin,

    // hashingTrick's token/bucket conventions, exact integer bucket
    // counts, one pinned Laplace log-ratio per bucket (smoothing
    // constants in-expression), per-doc fold in bucket order
    "q372_dsir" ->
      """WITH rt AS (SELECT doc_id, unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |rb AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 64
        |      AS BIGINT) AS b,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM rt GROUP BY 1, 2),
        |rtot AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS cr
        |  FROM rb GROUP BY 1),
        |tt0 AS (SELECT unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents WHERE text IS NOT NULL AND lang = 'en'),
        |ttot AS (SELECT CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT
        |      % 64 AS BIGINT) AS b,
        |    CAST(count(*) AS BIGINT) AS ct FROM tt0 GROUP BY 1),
        |nr AS (SELECT CAST(sum(cr) AS DOUBLE) AS nrv FROM rtot),
        |nt AS (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) AS ntv
        |  FROM ttot),
        |lr AS (SELECT r.b,
        |    ln((CAST(coalesce(t.ct, 0) AS DOUBLE) + 0.5)
        |        / (ntv + 0.5 * 64.0))
        |      - ln((CAST(r.cr AS DOUBLE) + 0.5)
        |        / (nrv + 0.5 * 64.0)) AS lr
        |  FROM rtot r LEFT JOIN ttot t ON t.b = r.b, nr, nt),
        |f AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |    list_reduce(list_prepend([0.0],
        |      list([CAST(cnt AS DOUBLE), lr.lr] ORDER BY rb.b)),
        |    (acc, p) -> [acc[1] + p[1] * p[2]]) AS m
        |  FROM rb JOIN lr ON lr.b = rb.b GROUP BY 1)
        |SELECT doc_id, n_tokens, m[1] AS log_weight
        |FROM f""".stripMargin,

    // pairwise cross-group comparisons over small per-day groups
    // (2 per strict win, 1 per tie == the engine's doubled
    // merge-count), untied-variance moments, pinned z
    "q370_jonckheere" ->
      """WITH b AS (SELECT event_type AS et,
        |    date_trunc('day', ts) AS day,
        |    ((user_id % 3) + 3) % 3 AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND ts IS NOT NULL),
        |grp AS (SELECT et, day, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT g) AS BIGINT) AS kg
        |  FROM b GROUP BY 1, 2),
        |sz AS (SELECT et, day, g, CAST(count(*) AS BIGINT) AS ng
        |  FROM b GROUP BY 1, 2, 3),
        |mo AS (SELECT et, day, CAST(sum(ng * ng) AS BIGINT) AS ss,
        |    CAST(sum(ng * ng * (2 * ng + 3)) AS BIGINT) AS sv
        |  FROM sz GROUP BY 1, 2),
        |ps AS (SELECT t1.et, t1.day,
        |    CAST(sum(CASE WHEN t2.v > t1.v THEN 2
        |      WHEN t2.v = t1.v THEN 1 ELSE 0 END) AS BIGINT) AS jt2
        |  FROM b t1 JOIN b t2 ON t2.et = t1.et AND t2.day = t1.day
        |    AND t1.g < t2.g
        |  GROUP BY 1, 2),
        |j AS (SELECT g.et, g.day, g.n, g.kg,
        |    coalesce(ps.jt2, 0) AS jt2, g.n * g.n - mo.ss AS e4,
        |    g.n * g.n * (2 * g.n + 3) - mo.sv AS var_num
        |  FROM grp g JOIN mo ON mo.et = g.et AND mo.day = g.day
        |    LEFT JOIN ps ON ps.et = g.et AND ps.day = g.day),
        |x AS (SELECT *, CAST(var_num AS DOUBLE) / 72.0 AS vs FROM j)
        |SELECT et AS event_type, day, n, kg AS k_groups,
        |  CAST(jt2 AS DOUBLE) / 2.0 AS jt,
        |  CASE WHEN kg >= 2 AND vs > 0.0
        |    THEN CAST(2 * jt2 - e4 AS DOUBLE) / 4.0 / sqrt(vs)
        |    END AS z
        |FROM x""".stripMargin,

    // the q240 pairwise-count oracle with the panel closings:
    // gamma = S/(P+Q), Somers' D = S/(n0-n1) and S/(n0-n2), tau-b
    "q371_ordinal_assoc" ->
      """WITH b AS (SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(CAST(((user_id % 7) + 7) % 7 AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS y,
        |    row_number() OVER () AS rid
        |  FROM events WHERE value IS NOT NULL
        |    AND user_id IS NOT NULL),
        |grp AS (SELECT k, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1),
        |ps AS (SELECT t1.k,
        |    CAST(sum(CASE WHEN t1.x = t2.x THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN t1.y = t2.y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN t1.x = t2.x AND t1.y = t2.y
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN (t1.x - t2.x) * (t1.y - t2.y) < 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS disc
        |  FROM b t1 JOIN b t2 ON t2.k = t1.k AND t1.rid < t2.rid
        |  GROUP BY 1),
        |j AS (SELECT g.k, g.n, g.n * (g.n - 1) / 2 AS n0,
        |    coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2,
        |    coalesce(n3, 0) AS n3, coalesce(disc, 0) AS disc
        |  FROM grp g LEFT JOIN ps ON ps.k = g.k),
        |s AS (SELECT *, n0 - n1 - n2 + n3 - 2 * disc AS st FROM j)
        |SELECT k AS event_type, n, CAST(st AS BIGINT) AS s,
        |  CASE WHEN n0 - n1 > 0 AND n0 - n2 > 0
        |    THEN CAST(st AS DOUBLE)
        |      / sqrt(CAST(n0 - n1 AS DOUBLE)
        |        * CAST(n0 - n2 AS DOUBLE)) END AS tau_b,
        |  CASE WHEN st + 2 * disc > 0 THEN CAST(st AS DOUBLE)
        |    / CAST(st + 2 * disc AS DOUBLE) END AS gamma,
        |  CASE WHEN n0 - n1 > 0 THEN CAST(st AS DOUBLE)
        |    / CAST(n0 - n1 AS DOUBLE) END AS somers_dyx,
        |  CASE WHEN n0 - n2 > 0 THEN CAST(st AS DOUBLE)
        |    / CAST(n0 - n2 AS DOUBLE) END AS somers_dxy
        |FROM s""".stripMargin,

    // exact integer stratum cells, stratum-order fold of the
    // hypergeometric E/V and the MH ad/n, bc/n terms with neutral
    // zeros for n < 2 strata, pinned chi2 and pooled-OR closings
    "q368_cmh" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 5) + 5) % 5 AS st,
        |    ((user_id % 2) + 2) % 2 = 0 AS ex, value >= 110 AS oc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (SELECT k, st,
        |    CAST(sum(CASE WHEN ex AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b2,
        |    CAST(sum(CASE WHEN NOT ex AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN NOT ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM b GROUP BY 1, 2),
        |f AS (SELECT k, list_reduce(
        |    list_prepend([0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        |      list([CAST(a AS DOUBLE), CAST(b2 AS DOUBLE),
        |        CAST(c AS DOUBLE), CAST(d AS DOUBLE)] ORDER BY st)),
        |    (acc, p) -> [
        |      acc[1] + CASE WHEN p[1] + p[2] + p[3] + p[4] > 1.0
        |        THEN p[1] ELSE 0.0 END,
        |      acc[2] + CASE WHEN p[1] + p[2] + p[3] + p[4] > 1.0
        |        THEN (p[1] + p[2]) * (p[1] + p[3])
        |          / (p[1] + p[2] + p[3] + p[4]) ELSE 0.0 END,
        |      acc[3] + CASE WHEN p[1] + p[2] + p[3] + p[4] > 1.0
        |        THEN (p[1] + p[2]) * (p[3] + p[4]) * (p[1] + p[3])
        |          * (p[2] + p[4])
        |          / ((p[1] + p[2] + p[3] + p[4])
        |            * (p[1] + p[2] + p[3] + p[4])
        |            * (p[1] + p[2] + p[3] + p[4] - 1.0))
        |        ELSE 0.0 END,
        |      acc[4] + CASE WHEN p[1] + p[2] + p[3] + p[4] > 1.0
        |        THEN p[1] * p[4] / (p[1] + p[2] + p[3] + p[4])
        |        ELSE 0.0 END,
        |      acc[5] + CASE WHEN p[1] + p[2] + p[3] + p[4] > 1.0
        |        THEN p[2] * p[3] / (p[1] + p[2] + p[3] + p[4])
        |        ELSE 0.0 END,
        |      acc[6] + 1.0]) AS m
        |  FROM cells GROUP BY 1)
        |SELECT k AS event_type, CAST(m[6] AS BIGINT) AS n_strata,
        |  CAST(m[1] AS BIGINT) AS sum_a, m[2] AS expected_a,
        |  m[3] AS variance,
        |  CASE WHEN m[3] > 0.0 THEN (m[1] - m[2]) * (m[1] - m[2])
        |    / m[3] END AS cmh_chi2,
        |  CASE WHEN m[5] > 0.0 THEN m[4] / m[5] END AS or_mh
        |FROM f""".stripMargin,

    // friedman's grid verbatim plus the treatment-order weights:
    // L2 = Sum(j * R2_j) exact, pinned doubled moments
    // E2 = nk(k+1)^2/2, Var2 = nk^2(k+1)^2(k-1)/36
    "q369_page_trend" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 50) + 50) % 50 AS blk,
        |    ((event_id % 3) + 3) % 3 AS trt,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
        |cell AS (SELECT k, blk, trt, CAST(sum(c) AS BIGINT) AS vc
        |  FROM b GROUP BY 1, 2, 3),
        |d AS (SELECT *, dense_rank() OVER (PARTITION BY k
        |    ORDER BY trt) AS dr FROM cell),
        |e AS (SELECT *, max(dr) OVER (PARTITION BY k) AS kk,
        |    count(*) OVER (PARTITION BY k, blk) AS bc FROM d),
        |r AS (SELECT k, blk, trt, dr,
        |    2 * rank() OVER (PARTITION BY k, blk ORDER BY vc)
        |      + count(*) OVER (PARTITION BY k, blk, vc) - 1 AS r2
        |  FROM e WHERE bc = kk),
        |tc AS (SELECT k, trt, CAST(max(dr) AS BIGINT) AS j,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r2) AS BIGINT) AS R2
        |  FROM r GROUP BY 1, 2),
        |g AS (SELECT k, max(n) AS nb, CAST(count(*) AS BIGINT) AS kt,
        |    CAST(sum(j * R2) AS DOUBLE) AS l2 FROM tc GROUP BY 1),
        |x AS (SELECT *, CAST(nb AS DOUBLE) AS nd,
        |    CAST(kt AS DOUBLE) AS kd, CAST(kt AS DOUBLE) + 1.0 AS kp1
        |  FROM g),
        |y AS (SELECT *, nd * kd * kp1 * kp1 / 2.0 AS e2,
        |    nd * kd * kd * kp1 * kp1 * (kd - 1.0) / 36.0 AS v2
        |  FROM x)
        |SELECT k AS event_type, nb AS n_blocks, kt AS k_treatments,
        |  l2 / 2.0 AS l_stat,
        |  CASE WHEN kt >= 2 AND nb > 0 AND v2 > 0.0
        |    THEN (l2 - e2) / sqrt(v2) END AS z
        |FROM y""".stripMargin,

    // one lead-window pass for all three lags, exact integer per-lag
    // products and head/tail sums, pinned C_k/C_0 chains, static Q
    // accumulation in lag order
    "q365_ljung_box" ->
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |w AS (SELECT *,
        |    lead(c, 1) OVER (PARTITION BY k ORDER BY ts, event_id)
        |      AS l1,
        |    lead(c, 2) OVER (PARTITION BY k ORDER BY ts, event_id)
        |      AS l2,
        |    lead(c, 3) OVER (PARTITION BY k ORDER BY ts, event_id)
        |      AS l3
        |  FROM b),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS DOUBLE) AS s,
        |    CAST(sum(c * c) AS DOUBLE) AS q,
        |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN c * l1 END)
        |      AS DOUBLE) AS a1,
        |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN c END)
        |      AS DOUBLE) AS h1,
        |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN l1 END)
        |      AS DOUBLE) AS t1,
        |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN c * l2 END)
        |      AS DOUBLE) AS a2,
        |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN c END)
        |      AS DOUBLE) AS h2,
        |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN l2 END)
        |      AS DOUBLE) AS t2,
        |    CAST(sum(CASE WHEN l3 IS NOT NULL THEN c * l3 END)
        |      AS DOUBLE) AS a3,
        |    CAST(sum(CASE WHEN l3 IS NOT NULL THEN c END)
        |      AS DOUBLE) AS h3,
        |    CAST(sum(CASE WHEN l3 IS NOT NULL THEN l3 END)
        |      AS DOUBLE) AS t3
        |  FROM w GROUP BY 1),
        |x AS (SELECT *, CAST(n AS DOUBLE) AS nd,
        |    s / CAST(n AS DOUBLE) AS mn,
        |    q - s * s / CAST(n AS DOUBLE) AS c0 FROM g),
        |y AS (SELECT *,
        |    a1 - mn * (h1 + t1) + (nd - 1.0) * mn * mn AS k1,
        |    a2 - mn * (h2 + t2) + (nd - 2.0) * mn * mn AS k2,
        |    a3 - mn * (h3 + t3) + (nd - 3.0) * mn * mn AS k3
        |  FROM x)
        |SELECT k AS event_type, n,
        |  CASE WHEN n > 3 AND c0 > 0.0 THEN nd * (nd + 2.0)
        |    * (0.0 + (k1 / c0) * (k1 / c0) / (nd - 1.0)
        |       + (k2 / c0) * (k2 / c0) / (nd - 2.0)
        |       + (k3 / c0) * (k3 / c0) / (nd - 3.0)) END AS lb_q
        |FROM y""".stripMargin,

    // pairwise sign sum over the time order (small per-day groups
    // make the O(n^2) oracle cheap; the engine's mergesort S is the
    // same exact integer), tie-corrected variance, continuity z
    "q366_mann_kendall" ->
      """WITH b AS (SELECT event_type AS et,
        |    date_trunc('day', ts) AS day, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |grp AS (SELECT et, day, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2),
        |ps AS (SELECT t1.et, t1.day,
        |    CAST(sum(CASE WHEN t2.v > t1.v THEN 1
        |      WHEN t2.v < t1.v THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM b t1 JOIN b t2 ON t2.et = t1.et AND t2.day = t1.day
        |    AND (t1.ts < t2.ts
        |      OR (t1.ts = t2.ts AND t1.event_id < t2.event_id))
        |  GROUP BY 1, 2),
        |tg AS (SELECT et, day,
        |    CAST(sum(cnt * (cnt - 1) * (2 * cnt + 5)) AS BIGINT)
        |      AS cubic
        |  FROM (SELECT et, day, v, CAST(count(*) AS BIGINT) AS cnt
        |    FROM b GROUP BY 1, 2, 3) GROUP BY 1, 2),
        |j AS (SELECT g.et, g.day, g.n, coalesce(ps.s, 0) AS s,
        |    g.n * (g.n - 1) * (2 * g.n + 5) - coalesce(tg.cubic, 0)
        |      AS var_num
        |  FROM grp g LEFT JOIN ps ON ps.et = g.et AND ps.day = g.day
        |    LEFT JOIN tg ON tg.et = g.et AND tg.day = g.day),
        |x AS (SELECT *, CAST(var_num AS DOUBLE) / 18.0 AS vs FROM j)
        |SELECT et AS event_type, day, n, CAST(s AS BIGINT) AS s,
        |  CAST(var_num AS BIGINT) AS var_num,
        |  CASE WHEN vs > 0.0 THEN
        |    CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(vs)
        |      WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(vs)
        |      ELSE 0.0 END END AS z
        |FROM x""".stripMargin,

    // lagged pairs on one key exchange, exact decimal 2-regressor
    // moments, pinned restricted/unrestricted SSR chains, pinned F
    "q367_granger" ->
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(value AS DECIMAL(18,2)) AS y,
        |    CAST(((user_id % 97) + 97) % 97 AS DECIMAL(18,2)) AS x
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |w AS (SELECT *,
        |    lag(y) OVER (PARTITION BY k ORDER BY ts, event_id) AS y1,
        |    lag(x) OVER (PARTITION BY k ORDER BY ts, event_id) AS x1
        |  FROM b),
        |r AS (SELECT * FROM w WHERE y1 IS NOT NULL
        |  AND x1 IS NOT NULL),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(y1) AS DOUBLE) AS sy1,
        |    CAST(sum(x1) AS DOUBLE) AS sx1,
        |    CAST(sum(y * y) AS DOUBLE) AS syy,
        |    CAST(sum(y1 * y1) AS DOUBLE) AS s11,
        |    CAST(sum(x1 * x1) AS DOUBLE) AS s22,
        |    CAST(sum(y * y1) AS DOUBLE) AS sy1y,
        |    CAST(sum(y * x1) AS DOUBLE) AS sx1y,
        |    CAST(sum(y1 * x1) AS DOUBLE) AS s12
        |  FROM r GROUP BY 1),
        |c AS (SELECT *, CAST(n AS DOUBLE) AS nd,
        |    syy - sy * sy / CAST(n AS DOUBLE) AS cyy,
        |    s11 - sy1 * sy1 / CAST(n AS DOUBLE) AS c11,
        |    s22 - sx1 * sx1 / CAST(n AS DOUBLE) AS c22,
        |    sy1y - sy * sy1 / CAST(n AS DOUBLE) AS cy1,
        |    sx1y - sy * sx1 / CAST(n AS DOUBLE) AS cx1,
        |    s12 - sy1 * sx1 / CAST(n AS DOUBLE) AS c12 FROM g),
        |d AS (SELECT *, c11 * c22 - c12 * c12 AS det,
        |    cyy - cy1 * cy1 / (CASE WHEN c11 > 0.0 THEN c11 END)
        |      AS ssr_r FROM c),
        |e AS (SELECT *, cyy - (c22 * cy1 * cy1
        |      - 2.0 * c12 * cy1 * cx1 + c11 * cx1 * cx1)
        |    / (CASE WHEN det > 0.0 THEN det END) AS ssr_u,
        |    n >= 4 AND c11 > 0.0 AND det > 0.0 AS ok FROM d)
        |SELECT k AS event_type, n,
        |  CASE WHEN ok THEN ssr_r END AS ssr_restricted,
        |  CASE WHEN ok THEN ssr_u END AS ssr_unrestricted,
        |  CASE WHEN ok AND ssr_u > 0.0 THEN (ssr_r - ssr_u)
        |    / (ssr_u / (nd - 3.0)) END AS f_granger
        |FROM e""".stripMargin,

    // per-subject exact grid sums under the two conditions, zero
    // diffs drop, doubled |d| ranks 2*rank_min + t - 1, exact tie
    // term Sum(t^3 - t), pinned doubled-moment normal closing
    "q363_wilcoxon" ->
      """WITH b AS (SELECT ((user_id % 4) + 4) % 4 AS k, user_id AS s,
        |    event_type AS cond,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IN ('click', 'view')),
        |p AS (SELECT k, s,
        |    sum(CASE WHEN cond = 'click' THEN c END) AS a,
        |    sum(CASE WHEN cond = 'view' THEN c END) AS b2
        |  FROM b GROUP BY 1, 2),
        |q AS (SELECT k, s, CAST(a - b2 AS BIGINT) AS d,
        |    abs(CAST(a - b2 AS BIGINT)) AS ad
        |  FROM p WHERE a IS NOT NULL AND b2 IS NOT NULL
        |    AND a - b2 <> 0),
        |r AS (SELECT *, 2 * rank() OVER (PARTITION BY k ORDER BY ad)
        |      + count(*) OVER (PARTITION BY k, ad) - 1 AS r2,
        |    count(*) OVER (PARTITION BY k, ad) AS t,
        |    row_number() OVER (PARTITION BY k, ad ORDER BY s) AS rn
        |  FROM q),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT)
        |      AS w2,
        |    CAST(sum(CASE WHEN rn = 1 THEN t * t * t - t ELSE 0 END)
        |      AS BIGINT) AS tt
        |  FROM r GROUP BY 1),
        |x AS (SELECT *, CAST(n_pairs AS DOUBLE) AS nd2 FROM g),
        |y AS (SELECT *, nd2 * (nd2 + 1.0) / 2.0 AS e2,
        |    nd2 * (nd2 + 1.0) * (2.0 * nd2 + 1.0) / 6.0
        |      - CAST(tt AS DOUBLE) / 12.0 AS v2 FROM x)
        |SELECT k AS cohort, n_pairs,
        |  CAST(w2 AS DOUBLE) / 2.0 AS w_plus,
        |  CASE WHEN n_pairs >= 1 AND v2 > 0.0
        |    THEN (CAST(w2 AS DOUBLE) - e2) / sqrt(v2) END AS z
        |FROM y""".stripMargin,

    // exact integer per-time cells, at-risk = total - prefix window
    // sums on the time grid, time-order O/E/V fold with neutral
    // degenerate terms, pinned (O-E)^2/V closing
    "q364_log_rank" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS g1,
        |    ((user_id % 10) + 10) % 10 < 8 AS ev,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (SELECT k, t,
        |    CAST(sum(CASE WHEN g1 AND ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d1,
        |    CAST(sum(CASE WHEN NOT g1 AND ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d0,
        |    CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c0
        |  FROM b GROUP BY 1, 2),
        |grid AS (SELECT *, sum(c1) OVER (PARTITION BY k) AS T1,
        |    sum(c0) OVER (PARTITION BY k) AS T0,
        |    coalesce(sum(c1) OVER (PARTITION BY k ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS p1,
        |    coalesce(sum(c0) OVER (PARTITION BY k ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS p0
        |  FROM cells),
        |f AS (SELECT k, CAST(sum(d1) AS BIGINT) AS n_events_1,
        |    CAST(sum(d0) AS BIGINT) AS n_events_0,
        |    list_reduce(list_prepend([0.0, 0.0],
        |      list([CAST(d1 AS DOUBLE), CAST(d1 + d0 AS DOUBLE),
        |        CAST(T1 - p1 AS DOUBLE),
        |        CAST(T1 - p1 + T0 - p0 AS DOUBLE)] ORDER BY t)),
        |    (acc, p) -> [
        |      acc[1] + CASE WHEN p[2] > 0.0
        |        THEN p[3] / p[4] * p[2] ELSE 0.0 END,
        |      acc[2] + CASE WHEN p[4] > 1.0 AND p[2] > 0.0
        |        THEN p[2] * (p[3] / p[4]) * (1.0 - p[3] / p[4])
        |          * (p[4] - p[2]) / (p[4] - 1.0) ELSE 0.0 END])
        |      AS m
        |  FROM grid GROUP BY 1)
        |SELECT k AS event_type, n_events_1, n_events_0,
        |  m[1] AS expected_1,
        |  CASE WHEN m[2] > 0.0
        |    THEN (CAST(n_events_1 AS DOUBLE) - m[1])
        |      * (CAST(n_events_1 AS DOUBLE) - m[1]) / m[2]
        |    END AS chi2
        |FROM f""".stripMargin,

    // the engine's three-register stream state replayed as a per-key
    // fold: seed [1, x0, x0, +0], then the same pinned e + a(x-e)
    // chains with alphas 2/(span+1); final row = max-n state
    "q360_stream_macd" ->
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
        |FROM f""".stripMargin,

    // exact integer cell moments, group-order fold of the scatter /
    // (n-1)ln(s^2) / 1/(n-1) terms with null-guarded denominators,
    // pinned M/C closing (scale cancels between the M terms)
    "q361_bartlett" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 4) + 4) % 4 AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (SELECT k, g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS s, sum(c * c) AS q
        |  FROM b GROUP BY 1, 2),
        |f AS (SELECT k, list_reduce(
        |    list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
        |      list([CAST(n AS DOUBLE), CAST(s AS DOUBLE),
        |        CAST(q AS DOUBLE)] ORDER BY g)),
        |    (acc, p) -> [
        |      acc[1] + (p[3] - p[2] * p[2] / p[1]),
        |      acc[2] + (CASE WHEN p[1] > 1.0
        |          AND p[3] - p[2] * p[2] / p[1] > 0.0
        |          THEN p[1] - 1.0 ELSE 1.0 END)
        |        * ln(CASE WHEN p[1] > 1.0
        |            AND p[3] - p[2] * p[2] / p[1] > 0.0
        |          THEN (p[3] - p[2] * p[2] / p[1])
        |            / (CASE WHEN p[1] > 1.0
        |                AND p[3] - p[2] * p[2] / p[1] > 0.0
        |              THEN p[1] - 1.0 ELSE 1.0 END)
        |          ELSE 1.0 END),
        |      acc[3] + 1.0 / (CASE WHEN p[1] > 1.0
        |          AND p[3] - p[2] * p[2] / p[1] > 0.0
        |        THEN p[1] - 1.0 ELSE 1.0 END),
        |      acc[4] + p[1], acc[5] + 1.0]) AS m,
        |    CAST(sum(CASE WHEN n < 2 OR CAST(q AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |          / CAST(n AS DOUBLE) <= 0.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS bad
        |  FROM cells GROUP BY 1)
        |SELECT k AS event_type, CAST(m[5] AS BIGINT) AS k_groups,
        |  CAST(m[4] AS BIGINT) AS n,
        |  CASE WHEN m[5] >= 2.0 AND bad = 0 THEN
        |    ((m[4] - m[5]) * ln(CASE WHEN m[1]
        |        / (CASE WHEN m[4] - m[5] > 0.0
        |            THEN m[4] - m[5] END) > 0.0
        |      THEN m[1] / (CASE WHEN m[4] - m[5] > 0.0
        |          THEN m[4] - m[5] END) END) - m[2])
        |    / (1.0 + (m[3] - 1.0 / (CASE WHEN m[4] - m[5] > 0.0
        |          THEN m[4] - m[5] END))
        |      / (3.0 * (CASE WHEN m[5] > 1.0
        |          THEN m[5] - 1.0 END)))
        |  END AS bartlett_chi2
        |FROM f""".stripMargin,

    // exact n-scaled integer deviations |n*x - S| (no double mean in
    // the argmax), larger value wins ties, pinned (maxdev/n)/sqrt(s2)
    "q362_grubbs" ->
      """WITH b AS (SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |w AS (SELECT *,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n,
        |    sum(vc) OVER (PARTITION BY k) AS s,
        |    sum(vc * vc) OVER (PARTITION BY k) AS q FROM b),
        |d AS (SELECT *, abs(n * vc - s) AS dev FROM w),
        |e AS (SELECT *, max(dev) OVER (PARTITION BY k) AS mx FROM d),
        |g AS (SELECT k, CAST(max(n) AS BIGINT) AS n,
        |    CAST(max(s) AS DOUBLE) AS sv, CAST(max(q) AS DOUBLE) AS qv,
        |    CAST(max(mx) AS DOUBLE) AS mxv,
        |    CAST(max(CASE WHEN dev = mx THEN vc END) AS BIGINT) AS outv
        |  FROM e GROUP BY 1),
        |x AS (SELECT *, CAST(n AS DOUBLE) AS ndb FROM g),
        |v AS (SELECT *, (qv - sv * sv / ndb)
        |    / (CASE WHEN ndb > 1.0 THEN ndb - 1.0 END) AS s2 FROM x)
        |SELECT k AS event_type, n,
        |  CAST(outv AS DOUBLE) / 100.0 AS outlier_value,
        |  CASE WHEN n >= 3 AND s2 > 0.0 THEN mxv / ndb
        |    / (CASE WHEN s2 > 0.0 THEN sqrt(s2) END) END AS g_stat
        |FROM v""".stripMargin,

    // per-segment exact decimal conditional moments in one pass,
    // pooled moments by decimal ADDITION of segment sums, pinned
    // SSR = Syy_c - Sxy_c^2/Sxx_c per fit, pinned F closing
    "q357_chow_test" ->
      """WITH b AS (SELECT event_type AS k,
        |    date_part('day', ts) >= 16 AS seg,
        |    CAST(date_part('day', ts) AS DECIMAL(18,2)) AS x,
        |    CAST(value AS DECIMAL(18,2)) AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT k,
        |    CAST(sum(CASE WHEN NOT seg THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN seg THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    sum(CASE WHEN NOT seg THEN x END) AS sx0,
        |    sum(CASE WHEN seg THEN x END) AS sx1,
        |    sum(CASE WHEN NOT seg THEN y END) AS sy0,
        |    sum(CASE WHEN seg THEN y END) AS sy1,
        |    sum(CASE WHEN NOT seg THEN x * x END) AS sxx0,
        |    sum(CASE WHEN seg THEN x * x END) AS sxx1,
        |    sum(CASE WHEN NOT seg THEN x * y END) AS sxy0,
        |    sum(CASE WHEN seg THEN x * y END) AS sxy1,
        |    sum(CASE WHEN NOT seg THEN y * y END) AS syy0,
        |    sum(CASE WHEN seg THEN y * y END) AS syy1
        |  FROM b GROUP BY 1),
        |c AS (SELECT *,
        |    CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE)
        |      * CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS cxx0,
        |    CAST(sxy0 AS DOUBLE) - CAST(sx0 AS DOUBLE)
        |      * CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS cxy0,
        |    CAST(syy0 AS DOUBLE) - CAST(sy0 AS DOUBLE)
        |      * CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS cyy0,
        |    CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
        |      * CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS cxx1,
        |    CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
        |      * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS cxy1,
        |    CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE)
        |      * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS cyy1,
        |    CAST(sxx0 + sxx1 AS DOUBLE) - CAST(sx0 + sx1 AS DOUBLE)
        |      * CAST(sx0 + sx1 AS DOUBLE)
        |      / CAST(n0 + n1 AS DOUBLE) AS cxxp,
        |    CAST(sxy0 + sxy1 AS DOUBLE) - CAST(sx0 + sx1 AS DOUBLE)
        |      * CAST(sy0 + sy1 AS DOUBLE)
        |      / CAST(n0 + n1 AS DOUBLE) AS cxyp,
        |    CAST(syy0 + syy1 AS DOUBLE) - CAST(sy0 + sy1 AS DOUBLE)
        |      * CAST(sy0 + sy1 AS DOUBLE)
        |      / CAST(n0 + n1 AS DOUBLE) AS cyyp
        |  FROM g),
        |r AS (SELECT *,
        |    cyy0 - cxy0 * cxy0
        |      / (CASE WHEN cxx0 > 0.0 THEN cxx0 END) AS ssr0,
        |    cyy1 - cxy1 * cxy1
        |      / (CASE WHEN cxx1 > 0.0 THEN cxx1 END) AS ssr1,
        |    cyyp - cxyp * cxyp
        |      / (CASE WHEN cxxp > 0.0 THEN cxxp END) AS ssrp,
        |    n0 >= 3 AND n1 >= 3 AND cxx0 > 0.0 AND cxx1 > 0.0
        |      AND cxxp > 0.0 AS ok
        |  FROM c),
        |z AS (SELECT *, ssr0 + ssr1 AS resid,
        |    CAST(n0 + n1 AS DOUBLE) AS ndb FROM r)
        |SELECT k AS event_type, n0 AS n_pre, n1 AS n_post,
        |  CASE WHEN ok THEN ssrp END AS ssr_pooled,
        |  CASE WHEN ok THEN ssr0 END AS ssr_pre,
        |  CASE WHEN ok THEN ssr1 END AS ssr_post,
        |  CASE WHEN ok AND resid > 0.0 AND ndb > 4.0
        |    THEN (ssrp - resid) / 2.0 / (resid / (ndb - 4.0))
        |    END AS f_chow
        |FROM z""".stripMargin,

    // complete-subject item grid (dense-rank item count), exact
    // integer window moments, sample item variances folded in item
    // order (list_reduce), subject-total variance, pinned alpha
    "q358_cronbach_alpha" ->
      """WITH b AS (SELECT ((user_id % 3) + 3) % 3 AS k, user_id AS s,
        |    event_type AS it,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cell AS (SELECT k, s, it, CAST(sum(c) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2, 3),
        |d AS (SELECT *, dense_rank() OVER (PARTITION BY k
        |    ORDER BY it) AS dr FROM cell),
        |e AS (SELECT *, max(dr) OVER (PARTITION BY k) AS kk,
        |    count(*) OVER (PARTITION BY k, s) AS sc FROM d),
        |f AS (SELECT k, s, it, c, kk FROM e WHERE sc = kk),
        |items AS (SELECT k, it, CAST(count(*) AS BIGINT) AS nit,
        |    CAST(sum(c) AS BIGINT) AS S, sum(c * c) AS SS
        |  FROM f GROUP BY 1, 2),
        |ifold AS (SELECT k, list_reduce(list_prepend([0.0],
        |    list([CAST(nit AS DOUBLE), CAST(S AS DOUBLE),
        |      CAST(SS AS DOUBLE)] ORDER BY it)),
        |    (acc, p) -> [acc[1] + (p[3] - p[2] * p[2] / p[1])
        |      / (CASE WHEN p[1] > 1.0 THEN p[1] - 1.0
        |          ELSE 1.0 END)]) AS m
        |  FROM items GROUP BY 1),
        |subs0 AS (SELECT k, s, CAST(sum(c) AS BIGINT) AS T,
        |    max(kk) AS kk FROM f GROUP BY 1, 2),
        |subs AS (SELECT k, CAST(count(*) AS BIGINT) AS n_subjects,
        |    CAST(max(kk) AS BIGINT) AS k_items,
        |    CAST(sum(T) AS DOUBLE) AS st,
        |    CAST(sum(T * T) AS DOUBLE) AS st2 FROM subs0 GROUP BY 1),
        |j AS (SELECT subs.*, ifold.m[1] AS vs,
        |    CAST(n_subjects AS DOUBLE) AS ndb,
        |    CAST(k_items AS DOUBLE) AS kd
        |  FROM subs JOIN ifold ON subs.k = ifold.k),
        |v AS (SELECT *, (st2 - st * st / ndb)
        |    / (CASE WHEN ndb > 1.0 THEN ndb - 1.0 END) AS vt FROM j)
        |SELECT k AS cohort, n_subjects, k_items,
        |  CASE WHEN n_subjects >= 2 THEN vs END AS item_var_sum,
        |  CASE WHEN n_subjects >= 2 THEN vt END AS total_var,
        |  CASE WHEN k_items >= 2 AND n_subjects >= 2 AND vt > 0.0
        |    THEN kd / (CASE WHEN kd > 1.0 THEN kd - 1.0 END)
        |      * (1.0 - vs / (CASE WHEN vt > 0.0 THEN vt END))
        |    END AS alpha
        |FROM v""".stripMargin,

    // exact integer category counts, exact Simpson rational
    // pairs/(N(N-1)), Shannon folded in category order with the
    // pinned (n/N)*ln(n/N) chain, Pielou evenness H/ln k
    "q359_diversity" ->
      """WITH b AS (SELECT lang AS k, source AS c FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL),
        |cells AS (SELECT k, c, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2),
        |g0 AS (SELECT k, CAST(sum(n) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS richness,
        |    CAST(sum(n * (n - 1)) AS DOUBLE) AS pairs,
        |    list([CAST(n AS DOUBLE)] ORDER BY c) AS cl
        |  FROM cells GROUP BY 1),
        |g AS (SELECT *, CAST(n AS DOUBLE) AS ndb,
        |    list_reduce(list_prepend([0.0], cl),
        |      (acc, p) -> [acc[1] + p[1] / CAST(n AS DOUBLE)
        |        * ln(p[1] / CAST(n AS DOUBLE))]) AS hm
        |  FROM g0)
        |SELECT k AS lang, n, richness,
        |  CASE WHEN n >= 2
        |    THEN pairs / (ndb * (ndb - 1.0)) END AS simpson,
        |  CASE WHEN n >= 2
        |    THEN 1.0 - pairs / (ndb * (ndb - 1.0)) END AS gini_simpson,
        |  0.0 - hm[1] AS shannon,
        |  CASE WHEN richness >= 2 THEN (0.0 - hm[1])
        |    / ln(CAST(richness AS DOUBLE)) END AS evenness
        |FROM g""".stripMargin,

    // the engine's three EMA recurrences replayed as a recursive
    // walk: ef/es seed at x0, alphas 2/(span+1) computed in the
    // expression, signal seeds at macd0 = +0.0, every step the same
    // pinned e + a*(x - e) chain
    "q354_macd" ->
      """WITH RECURSIVE r0 AS (SELECT user_id, ts, event_id,
        |    CAST(value AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL AND value IS NOT NULL),
        |walk AS (
        |  SELECT user_id, ts, event_id, v, rn, v AS ef, v AS es,
        |    CAST(0.0 AS DOUBLE) AS sg FROM r0 WHERE rn = 1
        |  UNION ALL
        |  SELECT r0.user_id, r0.ts, r0.event_id, r0.v, r0.rn,
        |    w.ef + 2.0 / (12.0 + 1.0) * (r0.v - w.ef),
        |    w.es + 2.0 / (26.0 + 1.0) * (r0.v - w.es),
        |    w.sg + 2.0 / (9.0 + 1.0) *
        |      (w.ef + 2.0 / (12.0 + 1.0) * (r0.v - w.ef)
        |       - (w.es + 2.0 / (26.0 + 1.0) * (r0.v - w.es)) - w.sg)
        |  FROM walk w JOIN r0 ON r0.user_id = w.user_id
        |    AND r0.rn = w.rn + 1)
        |SELECT user_id, event_id, ts, v AS value, ef - es AS macd,
        |  sg AS signal, ef - es - sg AS histogram
        |FROM walk""".stripMargin,

    // exact integer trailing-frame min/max on the cent grid, pinned
    // 100*(x-ll)/(hh-ll) with a flat-frame null, %D via explicit
    // lags (never a windowed double sum)
    "q355_stochastic" ->
      """WITH b AS (SELECT user_id, ts, event_id, value,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL AND value IS NOT NULL),
        |w AS (SELECT *,
        |    min(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS ll,
        |    max(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS hh
        |  FROM b),
        |k AS (SELECT *, CASE WHEN hh > ll
        |    THEN 100.0 * CAST(vc - ll AS DOUBLE)
        |      / CAST(hh - ll AS DOUBLE) END AS pk FROM w),
        |d AS (SELECT *, (pk
        |    + lag(pk, 1) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id)
        |    + lag(pk, 2) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id)) / 3.0 AS pd FROM k)
        |SELECT user_id, event_id, ts, value, pk AS pct_k,
        |  pd AS pct_d
        |FROM d""".stripMargin,

    // exact cent error sums, 1e-9-grid integer-division ratio
    // quantization (both engines truncate positives identically),
    // in-sample naive-lag MASE scale; the gate's pred column is
    // exact decimal value*0.95 + 2.0 (oracle rounds explicitly —
    // DuckDB decimal downscale casts truncate)
    "q356_forecast_accuracy" ->
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS ac,
        |    CAST(CAST(round(CAST(value AS DECIMAL(18,2)) * 0.95
        |      + 2.0, 2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS fc
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT *, abs(ac - fc) AS ae,
        |    abs(ac - lag(ac) OVER (PARTITION BY k
        |      ORDER BY ts, event_id)) AS nd
        |  FROM b),
        |q AS (SELECT *,
        |    CASE WHEN ac <> 0
        |      THEN (ae * 1000000000) // abs(ac) END AS mq,
        |    CASE WHEN abs(ac) + abs(fc) <> 0
        |      THEN (ae * 1000000000) // (abs(ac) + abs(fc)) END AS sq
        |  FROM r),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(ae) AS DOUBLE) AS sae,
        |    CAST(sum(ae * ae) AS DOUBLE) AS sse,
        |    CAST(sum(mq) AS DOUBLE) AS smq,
        |    CAST(count(mq) AS BIGINT) AS cmq,
        |    CAST(sum(sq) AS DOUBLE) AS ssq,
        |    CAST(count(sq) AS BIGINT) AS csq,
        |    CAST(sum(nd) AS DOUBLE) AS snd,
        |    CAST(count(nd) AS BIGINT) AS cnd
        |  FROM q GROUP BY 1),
        |x AS (SELECT *, CAST(n AS DOUBLE) AS ndb FROM g)
        |SELECT k AS event_type, n,
        |  sae / ndb / 100.0 AS mae,
        |  sqrt(sse / ndb) / 100.0 AS rmse,
        |  CASE WHEN cmq > 0 THEN smq / CAST(cmq AS DOUBLE)
        |    / 10000000.0 END AS mape,
        |  CASE WHEN csq > 0 THEN ssq / CAST(csq AS DOUBLE)
        |    / 1000000000.0 * 200.0 END AS smape,
        |  CASE WHEN cnd > 0 AND snd > 0.0
        |    THEN sae / ndb / (snd / CAST(cnd AS DOUBLE)) END AS mase
        |FROM x""".stripMargin,

    // exact integer power sums to the 4th on the cent grid (BIGINT
    // powers, HUGEINT sums == the engine's DECIMAL(38) sums), then
    // the pinned central-moment chain: m3/m4 expansions around the
    // mean, g1 = m3/(m2*sqrt(m2)), JB = n/6*(g1^2 + g2^2/4).
    // Sums past 2^53 go DOUBLE via VARCHAR: DuckDB's direct
    // HUGEINT->DOUBLE cast double-rounds (two 64-bit halves), while
    // strtod and Spark's Decimal.toDouble are correctly rounded
    "q351_jarque_bera" ->
      """WITH b AS (SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n, sum(c) AS s1,
        |    sum(c * c) AS s2, sum(c * c * c) AS s3,
        |    sum((c * c) * (c * c)) AS s4
        |  FROM b GROUP BY 1),
        |x AS (SELECT k, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS mu,
        |    CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS s2n,
        |    CAST(CAST(s3 AS VARCHAR) AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS s3n,
        |    CAST(CAST(s4 AS VARCHAR) AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS s4n FROM g),
        |y AS (SELECT *, s2n - mu * mu AS m2,
        |    s3n - 3.0 * mu * s2n + 2.0 * mu * mu * mu AS m3,
        |    s4n - 4.0 * mu * s3n + 6.0 * mu * mu * s2n
        |      - 3.0 * mu * mu * mu * mu AS m4 FROM x),
        |z AS (SELECT *, m3 / (m2 * sqrt(m2)) AS g1,
        |    m4 / (m2 * m2) - 3.0 AS g2 FROM y)
        |SELECT k AS event_type, n,
        |  CASE WHEN n >= 2 AND m2 > 0.0 THEN g1 END AS skewness,
        |  CASE WHEN n >= 2 AND m2 > 0.0 THEN g2 END AS kurtosis_excess,
        |  CASE WHEN n >= 2 AND m2 > 0.0
        |    THEN nd / 6.0 * (g1 * g1 + g2 * g2 / 4.0) END AS jb
        |FROM z""".stripMargin,

    // nine exact decimal moments in one pass, pinned pairwise r in
    // the pearsonMatrix form, then the pinned first-order partial
    // (r_xy - r_xz*r_yz) / sqrt((1-r_xz^2)(1-r_yz^2))
    "q352_partial_corr" ->
      """WITH b AS (SELECT event_type AS k,
        |    CAST(value AS DECIMAL(18,2)) AS x,
        |    CAST(((user_id % 97) + 97) % 97 AS DECIMAL(18,2)) AS y,
        |    CAST(((event_id % 89) + 89) % 89 AS DECIMAL(18,2)) AS z
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(z) AS DOUBLE) AS sz,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx,
        |    CAST(sum(y * y) AS DOUBLE) AS syy,
        |    CAST(sum(z * z) AS DOUBLE) AS szz,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy,
        |    CAST(sum(x * z) AS DOUBLE) AS sxz,
        |    CAST(sum(y * z) AS DOUBLE) AS syz
        |  FROM b GROUP BY 1),
        |v AS (SELECT *, CAST(n AS DOUBLE) AS nd,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS vy,
        |    CAST(n AS DOUBLE) * szz - sz * sz AS vz FROM g),
        |r AS (SELECT *,
        |    (nd * sxy - sx * sy) / (sqrt(vx) * sqrt(vy)) AS rxy,
        |    (nd * sxz - sx * sz) / (sqrt(vx) * sqrt(vz)) AS rxz,
        |    (nd * syz - sy * sz) / (sqrt(vy) * sqrt(vz)) AS ryz
        |  FROM v),
        |p AS (SELECT *,
        |    (1.0 - rxz * rxz) * (1.0 - ryz * ryz) AS den FROM r)
        |SELECT k AS event_type, n,
        |  CASE WHEN vx > 0.0 AND vy > 0.0 THEN rxy END AS r_xy,
        |  CASE WHEN vx > 0.0 AND vz > 0.0 THEN rxz END AS r_xz,
        |  CASE WHEN vy > 0.0 AND vz > 0.0 THEN ryz END AS r_yz,
        |  CASE WHEN vx > 0.0 AND vy > 0.0 AND vz > 0.0 AND den > 0.0
        |    THEN (rxy - rxz * ryz) / sqrt(den) END AS r_partial
        |FROM p""".stripMargin,

    // five exact decimal moments, biased (1/n) central moments,
    // pinned ccc = 2*sxy / (sxx + syy + (mx-my)^2); the gate's
    // pred column is EXACT decimal arithmetic (value*0.9 + 5.0 on
    // the decimal grid — no binary-double tie fuzz at the final
    // half-up rescale to scale 2; DuckDB's decimal DOWNSCALE cast
    // truncates, so the oracle rounds explicitly to match Spark's
    // HALF_UP)
    "q353_lin_ccc" ->
      """WITH b AS (SELECT event_type AS k,
        |    CAST(value AS DECIMAL(18,2)) AS x,
        |    CAST(round(CAST(value AS DECIMAL(18,2)) * 0.9 + 5.0, 2)
        |      AS DECIMAL(18,2)) AS y
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx,
        |    CAST(sum(y * y) AS DOUBLE) AS syy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy
        |  FROM b GROUP BY 1),
        |m AS (SELECT k, n, CAST(n AS DOUBLE) AS nd,
        |    sx / CAST(n AS DOUBLE) AS mx, sy / CAST(n AS DOUBLE) AS my,
        |    sxx / CAST(n AS DOUBLE) AS sxxn,
        |    syy / CAST(n AS DOUBLE) AS syyn,
        |    sxy / CAST(n AS DOUBLE) AS sxyn FROM g),
        |c AS (SELECT *, sxxn - mx * mx AS cxx, syyn - my * my AS cyy,
        |    sxyn - mx * my AS cxy FROM m),
        |d AS (SELECT *, cxx + cyy + (mx - my) * (mx - my) AS den
        |  FROM c)
        |SELECT k AS event_type, n, mx AS mean_x, my AS mean_y,
        |  CASE WHEN cxx > 0.0 AND cyy > 0.0
        |    THEN cxy / (sqrt(cxx) * sqrt(cyy)) END AS r,
        |  CASE WHEN den > 0.0 THEN 2.0 * cxy / den END AS ccc
        |FROM d""".stripMargin,

    // within-block doubled ranks 2*rank_min + t - 1 on exact cell
    // sums, complete blocks only (dense-rank treatment count),
    // exact integer rank moments, pinned tie-robust Conover closing
    "q349_friedman" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 50) + 50) % 50 AS blk,
        |    ((event_id % 3) + 3) % 3 AS trt,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
        |cell AS (SELECT k, blk, trt, CAST(sum(c) AS BIGINT) AS vc
        |  FROM b GROUP BY 1, 2, 3),
        |d AS (SELECT *, dense_rank() OVER (PARTITION BY k
        |    ORDER BY trt) AS dr FROM cell),
        |e AS (SELECT *, max(dr) OVER (PARTITION BY k) AS kk,
        |    count(*) OVER (PARTITION BY k, blk) AS bc FROM d),
        |r AS (SELECT k, blk, trt,
        |    2 * rank() OVER (PARTITION BY k, blk ORDER BY vc)
        |      + count(*) OVER (PARTITION BY k, blk, vc) - 1 AS r2
        |  FROM e WHERE bc = kk),
        |cells AS (SELECT k, trt, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r2) AS BIGINT) AS R2, sum(r2 * r2) AS sq
        |  FROM r GROUP BY 1, 2),
        |g AS (SELECT k, max(n) AS nb, CAST(count(*) AS BIGINT) AS kt,
        |    CAST(sum(R2 * R2) AS DOUBLE) AS sr2,
        |    CAST(sum(sq) AS DOUBLE) AS a2 FROM cells GROUP BY 1),
        |x AS (SELECT *, CAST(nb AS DOUBLE) AS nd,
        |    CAST(kt AS DOUBLE) AS kd, CAST(kt AS DOUBLE) + 1.0 AS kp1
        |  FROM g),
        |z AS (SELECT *, sr2 - nd * nd * kd * kp1 * kp1 AS num,
        |    a2 - nd * kd * kp1 * kp1 AS den FROM x)
        |SELECT k AS event_type, nb AS n_blocks, kt AS k_treatments,
        |  CASE WHEN kt >= 2 AND nb > 0 AND den > 0.0
        |    THEN (kd - 1.0) * num / den END AS chi2_f
        |FROM z""".stripMargin,

    // per-subject max outcomes under each treatment, complete
    // subjects only, exact integer G/L/N moments at row-number-1
    // markers, pinned (k-1)(k*SumG2 - N^2)/(kN - SumL2) closing
    "q350_cochran_q" ->
      """WITH b AS (SELECT ((user_id % 4) + 4) % 4 AS k, user_id AS s,
        |    ((event_id % 3) + 3) % 3 AS trt,
        |    CASE WHEN value >= 110 THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_id IS NOT NULL),
        |cell AS (SELECT k, s, trt, CAST(max(y) AS BIGINT) AS yi
        |  FROM b GROUP BY 1, 2, 3),
        |d AS (SELECT *, dense_rank() OVER (PARTITION BY k
        |    ORDER BY trt) AS dr FROM cell),
        |e AS (SELECT *, max(dr) OVER (PARTITION BY k) AS kk,
        |    count(*) OVER (PARTITION BY k, s) AS sc FROM d),
        |f AS (SELECT k, s, trt, yi, kk FROM e WHERE sc = kk),
        |m AS (SELECT *, sum(yi) OVER (PARTITION BY k, s) AS L,
        |    row_number() OVER (PARTITION BY k, s ORDER BY trt) AS rn,
        |    sum(yi) OVER (PARTITION BY k, trt) AS G,
        |    row_number() OVER (PARTITION BY k, trt ORDER BY s) AS rm
        |  FROM f),
        |g AS (SELECT k, CAST(sum(yi) AS BIGINT) AS n_success,
        |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_subjects,
        |    CAST(max(kk) AS BIGINT) AS kt,
        |    CAST(sum(CASE WHEN rn = 1 THEN L * L END) AS DOUBLE)
        |      AS l2,
        |    CAST(sum(CASE WHEN rm = 1 THEN G * G END) AS DOUBLE)
        |      AS g2
        |  FROM m GROUP BY 1),
        |x AS (SELECT *, CAST(kt AS DOUBLE) AS kd,
        |    CAST(n_success AS DOUBLE) AS ns FROM g)
        |SELECT k AS cohort, n_subjects, kt AS k_treatments, n_success,
        |  CASE WHEN kt >= 2 AND kd * ns - l2 > 0.0
        |    THEN (kd - 1.0) * (kd * g2 - ns * ns) / (kd * ns - l2)
        |    END AS q
        |FROM x""".stripMargin,

    // the engine's gate verbatim: daily demand = decimal sums of the
    // >= 110 tail per (type, day), calendar spine from min to max day
    // with explicit zeros, then the five-double Croston fold (first
    // demand initializes z = x, p = q; alpha = 0.2 thereafter)
    "q347_croston" ->
      """WITH e AS (SELECT event_type AS k, ts, value FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |d AS (SELECT k, date_trunc('day', ts) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS demand
        |  FROM e WHERE value >= 110 GROUP BY 1, 2),
        |span AS (SELECT k, date_trunc('day', min(ts)) AS d0,
        |    date_trunc('day', max(ts)) AS d1 FROM e GROUP BY 1),
        |grid AS (SELECT k, unnest(generate_series(d0, d1,
        |    INTERVAL 1 DAY)) AS day FROM span),
        |feed AS (SELECT g.k, g.day,
        |    CAST(CAST(coalesce(d.demand, 0.0) AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS xc
        |  FROM grid g LEFT JOIN d ON d.k = g.k AND d.day = g.day),
        |f AS (SELECT k, CAST(count(*) AS BIGINT) AS n_periods,
        |    list_reduce(list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
        |      list([CAST(xc AS DOUBLE)] ORDER BY day)),
        |    (acc, p) -> CASE
        |      WHEN p[1] > 0.0 AND acc[4] = 0.0
        |        THEN [p[1], acc[3] + 1.0, 0.0, 1.0, 1.0]
        |      WHEN p[1] > 0.0
        |        THEN [CAST(0.2 AS DOUBLE) * p[1]
        |            + (CAST(1.0 AS DOUBLE) - CAST(0.2 AS DOUBLE))
        |              * acc[1],
        |          CAST(0.2 AS DOUBLE) * (acc[3] + 1.0)
        |            + (CAST(1.0 AS DOUBLE) - CAST(0.2 AS DOUBLE))
        |              * acc[2],
        |          0.0, 1.0, acc[5] + 1.0]
        |      ELSE [acc[1], acc[2], acc[3] + 1.0, acc[4], acc[5]]
        |      END) AS m
        |  FROM feed GROUP BY 1)
        |SELECT k AS event_type, n_periods,
        |  CAST(m[5] AS BIGINT) AS n_demands,
        |  CASE WHEN m[4] = 1.0 THEN m[1] / 100.0 END AS size_est,
        |  CASE WHEN m[4] = 1.0 THEN m[2] END AS interval_est,
        |  CASE WHEN m[4] = 1.0 THEN m[1] / m[2] / 100.0 END AS forecast
        |FROM f""".stripMargin,

    // exact decimal arm moments (the welchT cells), pooled scatter
    // identity, pinned d closing, debias factor 1 - 3/(4N-9)
    // computed in-expression
    "q345_cohens_d" ->
      """WITH b AS (SELECT event_type AS k,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT k,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    sum(CASE WHEN arm = 'a' THEN v END) AS sa,
        |    sum(CASE WHEN arm = 'a' THEN CAST(v * v AS DECIMAL(38,4))
        |      END) AS ssa,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    sum(CASE WHEN arm = 'b' THEN v END) AS sb,
        |    sum(CASE WHEN arm = 'b' THEN CAST(v * v AS DECIMAL(38,4))
        |      END) AS ssb
        |  FROM b GROUP BY 1),
        |c AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS nad,
        |    CAST(n_b AS DOUBLE) AS nbd, CAST(sa AS DOUBLE) AS sad,
        |    CAST(sb AS DOUBLE) AS sbd, CAST(ssa AS DOUBLE) AS ssad,
        |    CAST(ssb AS DOUBLE) AS ssbd FROM g),
        |p AS (SELECT *, ((ssad - sad * sad / nad)
        |    + (ssbd - sbd * sbd / nbd)) / (nad + nbd - 2.0) AS pv
        |  FROM c)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a > 0 THEN sad / nad END AS mean_a,
        |  CASE WHEN n_b > 0 THEN sbd / nbd END AS mean_b,
        |  CASE WHEN n_a + n_b >= 3 AND n_a > 0 AND n_b > 0
        |      AND pv > 0.0
        |    THEN (sad / nad - sbd / nbd) / sqrt(pv) END AS cohens_d,
        |  CASE WHEN n_a + n_b >= 3 AND n_a > 0 AND n_b > 0
        |      AND pv > 0.0
        |    THEN (sad / nad - sbd / nbd) / sqrt(pv)
        |      * (1.0 - 3.0 / (4.0 * (nad + nbd) - 9.0)) END AS hedges_g
        |FROM p""".stripMargin,

    // cent grid, key-wide discrete lower median, exact integer 2xk
    // cells, group-order chi-square fold with expected counts
    // n_g*A/N computed in the lambda against the row's totals
    "q346_moods_median" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 4) + 4) % 4 AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |w AS (SELECT *, row_number() OVER (PARTITION BY k
        |      ORDER BY vc) AS rn,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS cnt
        |  FROM b),
        |md AS (SELECT *, max(CASE WHEN rn = (cnt + 1) // 2 THEN vc END)
        |    OVER (PARTITION BY k) AS med FROM w),
        |cells AS (SELECT k, g,
        |    CAST(sum(CASE WHEN vc > med THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(sum(CASE WHEN vc > med THEN 0 ELSE 1 END) AS BIGINT)
        |      AS b2
        |  FROM md GROUP BY 1, 2),
        |grid AS (SELECT k, CAST(sum(a) AS BIGINT) AS at,
        |    CAST(sum(b2) AS BIGINT) AS bt,
        |    CAST(count(*) AS BIGINT) AS kg,
        |    list([CAST(a AS DOUBLE), CAST(b2 AS DOUBLE)] ORDER BY g)
        |      AS cl
        |  FROM cells GROUP BY 1),
        |f AS (SELECT *, list_reduce(list_prepend([0.0], cl),
        |    (acc, p) -> [acc[1]
        |      + (p[1] - (p[1] + p[2]) * CAST(at AS DOUBLE)
        |          / (CAST(at AS DOUBLE) + CAST(bt AS DOUBLE)))
        |        * (p[1] - (p[1] + p[2]) * CAST(at AS DOUBLE)
        |          / (CAST(at AS DOUBLE) + CAST(bt AS DOUBLE)))
        |        / ((p[1] + p[2]) * CAST(at AS DOUBLE)
        |          / (CAST(at AS DOUBLE) + CAST(bt AS DOUBLE)))
        |      + (p[2] - (p[1] + p[2]) * CAST(bt AS DOUBLE)
        |          / (CAST(at AS DOUBLE) + CAST(bt AS DOUBLE)))
        |        * (p[2] - (p[1] + p[2]) * CAST(bt AS DOUBLE)
        |          / (CAST(at AS DOUBLE) + CAST(bt AS DOUBLE)))
        |        / ((p[1] + p[2]) * CAST(bt AS DOUBLE)
        |          / (CAST(at AS DOUBLE) + CAST(bt AS DOUBLE)))]) AS m
        |  FROM grid)
        |SELECT k AS event_type, kg AS k_groups, at + bt AS n,
        |  at AS n_above,
        |  CASE WHEN kg >= 2 AND at > 0 AND bt > 0 THEN m[1] END AS chi2
        |FROM f""".stripMargin,

    // exact integer (n, S, SS) cells on the cent grid, group-order
    // fold, pinned between = A - T^2/N / within = B - A identities,
    // F and eta-squared closings
    "q344_anova_f" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 4) + 4) % 4 AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (SELECT k, g, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(vc) AS BIGINT) AS s, sum(vc * vc) AS ss
        |  FROM b GROUP BY 1, 2),
        |f AS (SELECT k, list_reduce(
        |    list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
        |      list([CAST(ng AS DOUBLE), CAST(s AS DOUBLE),
        |        CAST(ss AS DOUBLE)] ORDER BY g)),
        |    (acc, p) -> [acc[1] + p[2]*p[2]/p[1], acc[2] + p[3],
        |      acc[3] + p[2], acc[4] + p[1], acc[5] + 1.0]) AS m
        |  FROM cells GROUP BY 1),
        |c AS (SELECT k, m, m[1] - m[3]*m[3]/m[4] AS btw,
        |    m[2] - m[1] AS wth FROM f)
        |SELECT k AS event_type, CAST(m[5] AS BIGINT) AS k_groups,
        |  CAST(m[4] AS BIGINT) AS n,
        |  CASE WHEN m[5] >= 2.0 AND m[4] > m[5] AND wth > 0.0
        |    THEN (btw / (m[5] - 1.0)) / (wth / (m[4] - m[5]))
        |    END AS f_stat,
        |  CASE WHEN m[5] >= 2.0 AND btw + wth > 0.0
        |    THEN btw / (btw + wth) END AS eta_sq
        |FROM c""".stripMargin,

    // the q338 walk keyed by user_id (the stream's final state per
    // key IS the batch answer; the stream gate folds its update log
    // to the max-n row before comparing)
    "q343_stream_page_hinkley" ->
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
        |FROM f""".stripMargin,

    // the engine's (3+7)-double fold verbatim: zero init, season by
    // tick position mod 7, alpha/beta/gamma AND their complements as
    // in-expression DOUBLE casts (the q327 ulp discipline); the l2
    // expression repeats inside b2/s_j — pure, identical doubles
    "q342_holt_winters" -> {
      val j0 = "(CAST(acc[3] AS BIGINT) % 7)"
      val sj = s"acc[CAST($j0 + 4 AS INT)]"
      val one = "CAST(1.0 AS DOUBLE)"
      val A = "CAST(0.3 AS DOUBLE)"
      val B = "CAST(0.1 AS DOUBLE)"
      val G = "CAST(0.2 AS DOUBLE)"
      val l2 = s"($A * (p[1] - $sj) + ($one - $A) * (acc[1] + acc[2]))"
      val b2 = s"($B * ($l2 - acc[1]) + ($one - $B) * acc[2])"
      val sj2 = s"($G * (p[1] - $l2) + ($one - $G) * $sj)"
      s"""WITH b AS (SELECT event_type AS k, ts, event_id,
         |    CAST(value AS DOUBLE) AS v
         |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
         |    AND value IS NOT NULL AND event_type IS NOT NULL),
         |f AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
         |    list_reduce(list_prepend(
         |      [0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0],
         |      list([v] ORDER BY ts, event_id)),
         |    (acc, p) -> list_value($l2, $b2, acc[3] + $one)
         |      || list_transform([1,2,3,4,5,6,7], q -> CASE
         |        WHEN q = $j0 + 1 THEN $sj2
         |        ELSE acc[CAST(q + 3 AS INT)] END)) AS m
         |  FROM b GROUP BY 1),
         |u AS (SELECT k, n, unnest(list_transform([1,2,3,4,5,6,7],
         |    q -> struct_pack(si := q, sv := m[CAST(q + 3 AS INT)])))
         |    AS s, m[1] AS level, m[2] AS trend FROM f)
         |SELECT k AS event_type, n, CAST(s.si AS BIGINT) AS season_idx,
         |  level, trend, s.sv AS seasonal FROM u""".stripMargin
    },

    // doubled average ranks 2*rank_min + t - 1 as exact longs (rank
    // + tie-count windows on one exchange), per-group exact moments,
    // group-order fold, pinned ANOVA-on-ranks closing against
    // r-bar = (N+1)/2
    "q340_kruskal_wallis" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 4) + 4) % 4 AS g, value AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |r AS (SELECT *, 2 * rank() OVER (PARTITION BY k ORDER BY v)
        |    + count(*) OVER (PARTITION BY k, v) - 1 AS r2 FROM b),
        |cells AS (SELECT k, g, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(r2) AS BIGINT) AS R2, sum(r2 * r2) AS sq
        |  FROM r GROUP BY 1, 2),
        |f AS (SELECT k, list_reduce(list_prepend([0.0, 0.0, 0.0, 0.0],
        |    list([CAST(ng AS DOUBLE), CAST(R2 AS DOUBLE),
        |      CAST(sq AS DOUBLE)] ORDER BY g)),
        |    (acc, p) -> [acc[1] + p[2]*p[2] / (4.0*p[1]),
        |      acc[2] + p[3], acc[3] + p[1], acc[4] + 1.0]) AS m
        |  FROM cells GROUP BY 1)
        |SELECT k AS event_type, CAST(m[4] AS BIGINT) AS k_groups,
        |  CAST(m[3] AS BIGINT) AS n,
        |  CASE WHEN m[4] >= 2.0 AND m[2] / 4.0
        |      - m[3] * ((m[3] + 1.0) / 2.0) * ((m[3] + 1.0) / 2.0)
        |      > 0.0
        |    THEN (m[3] - 1.0) * (m[1]
        |        - m[3] * ((m[3] + 1.0) / 2.0) * ((m[3] + 1.0) / 2.0))
        |      / (m[2] / 4.0
        |        - m[3] * ((m[3] + 1.0) / 2.0) * ((m[3] + 1.0) / 2.0))
        |    END AS h
        |FROM f""".stripMargin,

    // cent grid, discrete lower median (rank (N+1)//2), equal-to-
    // median rows drop, lag run boundaries on the (ts, event_id)
    // total order, exact integer n1/n2/R, pinned z closing
    "q341_runs_test" ->
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |w AS (SELECT *, row_number() OVER (PARTITION BY k
        |      ORDER BY vc) AS rn,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS cnt
        |  FROM b),
        |md AS (SELECT *, max(CASE WHEN rn = (cnt + 1) // 2 THEN vc END)
        |    OVER (PARTITION BY k) AS med FROM w),
        |s AS (SELECT k, ts, event_id, vc > med AS up FROM md
        |  WHERE vc <> med),
        |c AS (SELECT k, up, CASE WHEN lag(up) OVER (PARTITION BY k
        |      ORDER BY ts, event_id) IS NULL THEN 1
        |    WHEN lag(up) OVER (PARTITION BY k ORDER BY ts, event_id)
        |      <> up THEN 1 ELSE 0 END AS chg FROM s),
        |g AS (SELECT k,
        |    CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_above,
        |    CAST(sum(CASE WHEN up THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_below,
        |    CAST(sum(chg) AS BIGINT) AS runs FROM c GROUP BY 1),
        |x AS (SELECT *, CAST(n_above AS DOUBLE) AS x1,
        |    CAST(n_below AS DOUBLE) AS x2 FROM g)
        |SELECT k AS event_type, n_above, n_below, runs,
        |  CASE WHEN n_above > 0 AND n_below > 0
        |      AND n_above + n_below >= 2
        |      AND 2.0*x1*x2 * (2.0*x1*x2 - (x1 + x2))
        |        / ((x1 + x2) * (x1 + x2) * ((x1 + x2) - 1.0)) > 0.0
        |    THEN (CAST(runs AS DOUBLE)
        |        - (2.0*x1*x2 / (x1 + x2) + 1.0))
        |      / sqrt(2.0*x1*x2 * (2.0*x1*x2 - (x1 + x2))
        |        / ((x1 + x2) * (x1 + x2) * ((x1 + x2) - 1.0)))
        |    END AS z
        |FROM x""".stripMargin,

    // the engine's five-double Page-Hinkley walk verbatim: running
    // mean one division per step, delta/lambda as grid-unit literals
    // (50 / 20000 cents), latched first-alarm index; the m_t
    // expression repeats inside least/CASE — pure, so every
    // occurrence evaluates to the identical double
    "q338_page_hinkley" ->
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
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
        |SELECT k AS event_type, n, m[2] / m[1] / 100.0 AS mean,
        |  (m[3] - m[4]) / 100.0 AS ph,
        |  CASE WHEN m[5] > 0.0 THEN CAST(m[5] AS BIGINT) END AS alarm_at
        |FROM f""".stripMargin,

    // mean cancels in the numerator (exact integer deltas), so DW =
    // exact-decimal sum(d^2) over the pinned Sxx - S^2/n closing
    "q339_durbin_watson" ->
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |d AS (SELECT k, vc, vc - lag(vc) OVER (PARTITION BY k
        |    ORDER BY ts, event_id) AS d FROM b),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(vc) AS BIGINT) AS s, sum(vc * vc) AS ss,
        |    sum(d * d) AS sd2
        |  FROM d GROUP BY 1)
        |SELECT k AS event_type, n,
        |  CASE WHEN n >= 2 AND CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
        |      * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0.0
        |    THEN CAST(sd2 AS DOUBLE) / (CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE)) END AS dw
        |FROM g""".stripMargin,

    // exact integer dose moments (sums of t*r, t, t*t are order-free
    // longs), one pinned p(1-p)(Sttn - Stn^2/N) variance and z
    // closing; complement 1-p computed in-expression
    "q337_cochran_armitage" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 4) + 4) % 4 AS t,
        |    CASE WHEN value >= 50 THEN 1 ELSE 0 END AS r
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r) AS BIGINT) AS n_pos,
        |    CAST(sum(t * r) AS BIGINT) AS str,
        |    CAST(sum(t) AS BIGINT) AS stn,
        |    CAST(sum(t * t) AS BIGINT) AS sttn
        |  FROM b GROUP BY 1),
        |c AS (SELECT *, CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    CAST(str AS DOUBLE) AS strd, CAST(stn AS DOUBLE) AS stnd,
        |    CAST(sttn AS DOUBLE) AS sttnd, CAST(n AS DOUBLE) AS nd
        |  FROM g),
        |v AS (SELECT *, p * (1.0 - p) * (sttnd - stnd * stnd / nd)
        |    AS var FROM c)
        |SELECT k AS event_type, n, n_pos,
        |  CASE WHEN var > 0.0
        |    THEN (strd - p * stnd) / sqrt(var) END AS z
        |FROM v""".stripMargin,

    // the q122 fixed-point discipline: integer sums, max-normalize
    // via (v * 1e6) // max per phase, auth-then-hub per sweep, two
    // static sweeps unrolled
    "q336_hits" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
        |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |n AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
        |s0 AS (SELECT node_id, CAST(1000000 AS BIGINT) AS h FROM n),
        |ra1 AS (SELECT e.dst AS node_id, CAST(sum(s0.h) AS BIGINT) AS v
        |        FROM e JOIN s0 ON s0.node_id = e.src GROUP BY 1),
        |fa1 AS (SELECT n.node_id, coalesce(ra1.v, 0) AS v
        |        FROM n LEFT JOIN ra1 USING (node_id)),
        |a1 AS (SELECT node_id, CASE WHEN mx > 0
        |          THEN (v * 1000000) // mx ELSE 0 END AS a
        |        FROM fa1 CROSS JOIN (SELECT max(v) AS mx FROM fa1)),
        |rh1 AS (SELECT e.src AS node_id, CAST(sum(a1.a) AS BIGINT) AS v
        |        FROM e JOIN a1 ON a1.node_id = e.dst GROUP BY 1),
        |fh1 AS (SELECT n.node_id, coalesce(rh1.v, 0) AS v
        |        FROM n LEFT JOIN rh1 USING (node_id)),
        |h1 AS (SELECT node_id, CASE WHEN mx > 0
        |          THEN (v * 1000000) // mx ELSE 0 END AS h
        |        FROM fh1 CROSS JOIN (SELECT max(v) AS mx FROM fh1)),
        |ra2 AS (SELECT e.dst AS node_id, CAST(sum(h1.h) AS BIGINT) AS v
        |        FROM e JOIN h1 ON h1.node_id = e.src GROUP BY 1),
        |fa2 AS (SELECT n.node_id, coalesce(ra2.v, 0) AS v
        |        FROM n LEFT JOIN ra2 USING (node_id)),
        |a2 AS (SELECT node_id, CASE WHEN mx > 0
        |          THEN (v * 1000000) // mx ELSE 0 END AS a
        |        FROM fa2 CROSS JOIN (SELECT max(v) AS mx FROM fa2)),
        |rh2 AS (SELECT e.src AS node_id, CAST(sum(a2.a) AS BIGINT) AS v
        |        FROM e JOIN a2 ON a2.node_id = e.dst GROUP BY 1),
        |fh2 AS (SELECT n.node_id, coalesce(rh2.v, 0) AS v
        |        FROM n LEFT JOIN rh2 USING (node_id)),
        |h2 AS (SELECT node_id, CASE WHEN mx > 0
        |          THEN (v * 1000000) // mx ELSE 0 END AS h
        |        FROM fh2 CROSS JOIN (SELECT max(v) AS mx FROM fh2))
        |SELECT h2.node_id, h2.h AS hub_fp, a2.a AS auth_fp
        |FROM h2 JOIN a2 USING (node_id)""".stripMargin,

    // the engine's Wilder chain verbatim: cent deltas via lag on the
    // (ts, event_id) total order, three-double list_reduce state
    // (seed sums -> one division at i = n -> Wilder recurrence with
    // in-expression 13/14 literals), pinned 100*aG/(aG+aL) closing
    "q335_rsi" ->
      """WITH b AS (SELECT event_type AS k, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |d AS (SELECT k, ts, event_id,
        |    CAST(vc - lag(vc) OVER (PARTITION BY k ORDER BY ts,
        |      event_id) AS DOUBLE) AS d
        |  FROM b),
        |dd AS (SELECT * FROM d WHERE d IS NOT NULL),
        |f AS (SELECT k, CAST(count(*) AS BIGINT) AS n_deltas,
        |    list_reduce(list_prepend([0.0, 0.0, 0.0],
        |      list([d] ORDER BY ts, event_id)),
        |    (acc, p) -> CASE
        |      WHEN acc[1] + 1.0 < 14.0 THEN [acc[1] + 1.0,
        |        acc[2] + greatest(p[1], 0.0),
        |        acc[3] + greatest(-p[1], 0.0)]
        |      WHEN acc[1] + 1.0 = 14.0 THEN [acc[1] + 1.0,
        |        (acc[2] + greatest(p[1], 0.0)) / 14.0,
        |        (acc[3] + greatest(-p[1], 0.0)) / 14.0]
        |      ELSE [acc[1] + 1.0,
        |        (acc[2] * 13.0 + greatest(p[1], 0.0)) / 14.0,
        |        (acc[3] * 13.0 + greatest(-p[1], 0.0)) / 14.0]
        |      END) AS m
        |  FROM dd GROUP BY 1)
        |SELECT k AS event_type, n_deltas,
        |  CASE WHEN m[1] >= 14.0 THEN m[2] / 100.0 END AS avg_gain,
        |  CASE WHEN m[1] >= 14.0 THEN m[3] / 100.0 END AS avg_loss,
        |  CASE WHEN m[1] >= 14.0 AND m[2] + m[3] > 0.0
        |    THEN 100.0 * m[2] / (m[2] + m[3]) END AS rsi
        |FROM f""".stripMargin,

    // the engine's chain verbatim: cent grid, discrete lower median
    // at rank (n+1)//2 per (key, group), |z| deviations, exact integer
    // group moments, sequential group-order fold (list_reduce), one
    // pinned W closing
    "q334_brown_forsythe" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 4) + 4) % 4 AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |w AS (SELECT *, row_number() OVER (PARTITION BY k, g
        |      ORDER BY vc) AS rn,
        |    CAST(count(*) OVER (PARTITION BY k, g) AS BIGINT) AS n
        |  FROM b),
        |md AS (SELECT *, max(CASE WHEN rn = (n + 1) // 2 THEN vc END)
        |    OVER (PARTITION BY k, g) AS med FROM w),
        |z AS (SELECT k, g, abs(vc - med) AS z FROM md),
        |cells AS (SELECT k, g, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(z) AS BIGINT) AS s, sum(z * z) AS ss
        |  FROM z GROUP BY 1, 2),
        |f AS (SELECT k, list_reduce(
        |    list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
        |      list([CAST(ng AS DOUBLE), CAST(s AS DOUBLE),
        |        CAST(ss AS DOUBLE)] ORDER BY g)),
        |    (acc, p) -> [acc[1] + p[2]*p[2]/p[1],
        |      acc[2] + (p[3] - p[2]*p[2]/p[1]),
        |      acc[3] + p[2], acc[4] + p[1], acc[5] + 1.0]) AS m
        |  FROM cells GROUP BY 1)
        |SELECT k AS event_type, CAST(m[5] AS BIGINT) AS k_groups,
        |  CAST(m[4] AS BIGINT) AS n,
        |  CASE WHEN m[5] >= 2.0 AND m[2] > 0.0 THEN
        |    ((m[4] - m[5]) / (m[5] - 1.0))
        |      * (m[1] - m[3]*m[3]/m[4]) / m[2] END AS w_stat
        |FROM f""".stripMargin,

    // stage 1 = the q183 weighted-percentile chain per (key, hour/4
    // bin); stage 2 = the engine's five-double moment fold replayed in
    // bin order (list_reduce, DOUBLE[] state), pinned slope/intercept
    // closings; x_mid = (bin+0.5)*4 computed in-expression
    "q333_quantile_regression" ->
      """WITH b AS (SELECT event_type AS k,
        |    CAST(floor(CAST(hour(ts) AS DOUBLE) / 4.0) AS BIGINT) AS bin,
        |    value AS v, CAST(100 AS BIGINT) AS wt
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |w AS (SELECT *, CAST(sum(wt) OVER (PARTITION BY k, bin
        |      ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(wt) OVER (PARTITION BY k, bin) AS BIGINT) AS tot,
        |    CAST(sum(wt) OVER (PARTITION BY k, bin ORDER BY v
        |      RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT)
        |      AS tie
        |  FROM b),
        |cells AS (SELECT k, bin, min(v) AS q, max(tot) AS wc,
        |    (CAST(bin AS DOUBLE) + 0.5) * 4.0 AS xm
        |  FROM w
        |  WHERE cum >= CAST(0.9 AS DECIMAL(6,5))
        |      * CAST(tot AS DECIMAL(20,0))
        |    AND cum - tie < CAST(0.9 AS DECIMAL(6,5))
        |      * CAST(tot AS DECIMAL(20,0))
        |  GROUP BY 1, 2),
        |f AS (SELECT k, list_reduce(
        |    list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
        |      list([CAST(wc AS DOUBLE), xm, q] ORDER BY bin)),
        |    (acc, p) -> [acc[1] + p[1], acc[2] + p[1]*p[2],
        |      acc[3] + p[1]*p[3], acc[4] + p[1]*p[2]*p[2],
        |      acc[5] + p[1]*p[2]*p[3]]) AS m,
        |    count(DISTINCT bin) AS nb
        |  FROM cells GROUP BY 1),
        |l AS (SELECT k, nb, m, m[1]*m[4] - m[2]*m[2] AS den FROM f),
        |l2 AS (SELECT k, m, CASE WHEN nb >= 2 AND den <> 0
        |    THEN (m[1]*m[5] - m[2]*m[3]) / den END AS slope FROM l),
        |l3 AS (SELECT k, slope, CASE WHEN slope IS NOT NULL
        |    THEN (m[3] - slope*m[2]) / m[1] END AS intercept FROM l2)
        |SELECT c.k AS event_type, c.bin, c.xm AS x_mid,
        |  CAST(c.wc AS DOUBLE) / 100.0 AS w, c.q AS q_tau,
        |  l.slope, l.intercept
        |FROM cells c LEFT JOIN l3 l ON l.k = c.k""".stripMargin,

    // the engine's PAV fit replayed via the max-min identity
    // g(i) = max_{j<=i} min_{k>=i} avg(j..k) over the bin grid:
    // interval averages are double divisions of exact integer count
    // sums (distinct bin rationals differ by >= 1/maxN^2, far above
    // ulp, so double min/max decide identically), and the selected
    // value IS the pooled block's division — the engine's fitted
    "q332_isotonic" ->
      """WITH e AS (SELECT event_type,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'cal'),
        |      1, 8))::BIGINT AS DOUBLE) / CAST(4294967296 AS DOUBLE) AS p,
        |    value >= 50 AS y
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type AS k,
        |    least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
        |    CASE WHEN y THEN 1 ELSE 0 END AS pos
        |  FROM e WHERE p >= 0 AND p <= 1),
        |cells AS (SELECT k, bin, CAST(count(*) AS BIGINT) AS w,
        |    CAST(sum(pos) AS BIGINT) AS s,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY bin)
        |      AS BIGINT) AS pos
        |  FROM b GROUP BY 1, 2),
        |cum AS (SELECT *, CAST(sum(w) OVER win AS BIGINT) AS cw,
        |    CAST(sum(s) OVER win AS BIGINT) AS cs
        |  FROM cells WINDOW win AS (PARTITION BY k ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |iv AS (SELECT x.k, x.pos AS j, y.pos AS e,
        |    CAST(y.cs - (x.cs - x.s) AS DOUBLE)
        |      / CAST(y.cw - (x.cw - x.w) AS DOUBLE) AS a
        |  FROM cum x JOIN cum y ON y.k = x.k AND y.pos >= x.pos),
        |mn AS (SELECT iv.k, iv.j, c.pos AS i, min(iv.a) AS m
        |  FROM iv JOIN cells c ON c.k = iv.k AND iv.j <= c.pos
        |    AND iv.e >= c.pos
        |  GROUP BY 1, 2, 3),
        |fit AS (SELECT k, i AS pos, max(m) AS fitted FROM mn
        |  GROUP BY 1, 2)
        |SELECT c.k AS event_type, c.bin, c.w AS n, c.s AS n_pos,
        |  f.fitted
        |FROM cells c JOIN fit f ON f.k = c.k AND f.pos = c.pos"""
        .stripMargin,

    "q331_max_drawdown" ->
      """WITH b AS (SELECT event_type, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |w AS (SELECT *, max(vc) OVER win AS peak,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM b WINDOW win AS (PARTITION BY event_type
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (SELECT *, CASE WHEN peak > 0 THEN
        |    CAST(peak - vc AS DOUBLE) / CAST(peak AS DOUBLE) END AS dd
        |  FROM w),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY dd DESC NULLS LAST, ts, event_id) AS rk FROM d)
        |SELECT event_type, n,
        |  CASE WHEN dd IS NOT NULL THEN CAST(peak AS DOUBLE) / 100.0
        |    END AS peak_value,
        |  CASE WHEN dd IS NOT NULL THEN CAST(vc AS DOUBLE) / 100.0
        |    END AS trough_value,
        |  dd AS max_drawdown
        |FROM r WHERE rk = 1""".stripMargin,

    // the q294 snapping (1e-6 micro-units) + exact-decimal centroids
    // (Σvu double / 1e6 / n — the established double-cast
    // equivalence), dim-ORDERED list_reduce dot/norm folds, pinned
    // silhouette chain verbatim
    "q330_centroid_silhouette" ->
      """WITH e AS (SELECT vec_id, CAST(vec_id % 5 AS INT) AS cluster,
        |    embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id IS NOT NULL
        |    AND embedding IS NOT NULL AND len(embedding) > 0),
        |x AS (SELECT vec_id, cluster, CAST(i - 1 AS INT) AS dim,
        |    CAST(CAST(v[i] AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vu
        |  FROM (SELECT vec_id, cluster, v,
        |        unnest(generate_series(1, len(v))) AS i FROM e)),
        |cen AS (SELECT cluster AS cc, dim,
        |    (CAST(sum(vu) AS DOUBLE) / 1000000.0)
        |      / CAST(count(*) AS DOUBLE) AS mu
        |  FROM x GROUP BY 1, 2),
        |pv AS (SELECT vec_id, cluster, dim,
        |    CAST(vu AS DOUBLE) / 1000000.0 AS sv FROM x),
        |pc AS (SELECT p.vec_id, p.cluster, c.cc,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(p.sv * c.mu ORDER BY p.dim)), (s, t) -> s + t) AS dt,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(p.sv * p.sv ORDER BY p.dim)), (s, t) -> s + t) AS np,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(c.mu * c.mu ORDER BY p.dim)), (s, t) -> s + t) AS nc
        |  FROM pv p JOIN cen c ON p.dim = c.dim
        |  GROUP BY 1, 2, 3),
        |cs AS (SELECT *, CASE WHEN np > 0.0 AND nc > 0.0
        |    THEN dt / (sqrt(np) * sqrt(nc)) END AS cs FROM pc),
        |pp AS (SELECT vec_id, cluster,
        |    max(CASE WHEN cluster = cc THEN cs END) AS cos_own,
        |    max(CASE WHEN cluster <> cc THEN cs END)
        |      AS cos_nearest_other
        |  FROM cs GROUP BY 1, 2)
        |SELECT vec_id, cluster, cos_own, cos_nearest_other,
        |  CASE WHEN cos_own IS NOT NULL
        |      AND cos_nearest_other IS NOT NULL
        |      AND greatest(CAST(1.0 AS DOUBLE) - cos_own,
        |        CAST(1.0 AS DOUBLE) - cos_nearest_other) > 0.0 THEN
        |    ((CAST(1.0 AS DOUBLE) - cos_nearest_other)
        |      - (CAST(1.0 AS DOUBLE) - cos_own))
        |    / greatest(CAST(1.0 AS DOUBLE) - cos_own,
        |        CAST(1.0 AS DOUBLE) - cos_nearest_other)
        |  END AS silhouette
        |FROM pp""".stripMargin,

    // the q274 edge replay + exact integer degree moments over both
    // orientations; r = (nΣxy − Sx²)/(nΣxx − Sx²), one double close
    // (DuckDB sums promote to HUGEINT — exact like the engine's
    // decimal(38,0); both casts to double correctly round the same
    // integer)
    "q329_assortativity" ->
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gs AS (SELECT g, i FROM (SELECT g, i,
        |    count(*) OVER (PARTITION BY g) AS sz FROM gi) WHERE sz <= 8),
        |e AS (SELECT DISTINCT least(a.i, b.i) AS u, greatest(a.i, b.i)
        |      AS v FROM gs a JOIN gs b ON a.g = b.g AND a.i < b.i),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |j AS (SELECT du.d AS du, dv.d AS dv FROM e
        |  JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |    sum(du + dv) AS sx, sum(du * dv) AS sp,
        |    sum(du * du + dv * dv) AS sxx FROM j),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
        |SELECT n_nodes, n_edges,
        |  CASE WHEN (2 * n_edges) * sxx - sx * sx <> 0 THEN
        |    CAST((2 * n_edges) * (2 * sp) - sx * sx AS DOUBLE)
        |    / CAST((2 * n_edges) * sxx - sx * sx AS DOUBLE)
        |  END AS assortativity
        |FROM mom CROSS JOIN nn""".stripMargin,

    // the q274 co-occurrence edge replay + exact integer community
    // cells; contribution chain verbatim (ie/m − (ds/2m)²)
    "q328_modularity" ->
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gs AS (SELECT g, i FROM (SELECT g, i,
        |    count(*) OVER (PARTITION BY g) AS sz FROM gi) WHERE sz <= 8),
        |e AS (SELECT DISTINCT least(a.i, b.i) AS u, greatest(a.i, b.i)
        |      AS v FROM gs a JOIN gs b ON a.g = b.g AND a.i < b.i),
        |nodes AS (SELECT DISTINCT u AS n FROM e
        |          UNION SELECT DISTINCT v FROM e),
        |asg AS (SELECT n, n % 8 AS c FROM nodes),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |comm AS (SELECT c AS community,
        |    CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(d) AS BIGINT) AS degree_sum
        |  FROM deg JOIN asg USING (n) GROUP BY 1),
        |net AS (SELECT au.c AS community,
        |    CAST(count(*) AS BIGINT) AS internal_edges
        |  FROM e JOIN asg au ON e.u = au.n JOIN asg av ON e.v = av.n
        |  WHERE au.c = av.c GROUP BY 1),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e)
        |SELECT community, n_nodes,
        |  CAST(coalesce(internal_edges, 0) AS BIGINT) AS internal_edges,
        |  degree_sum,
        |  CAST(degree_sum - 2 * coalesce(internal_edges, 0) AS BIGINT)
        |    AS cut_edges,
        |  CASE WHEN m > 0 THEN
        |    CAST(coalesce(internal_edges, 0) AS DOUBLE) / CAST(m AS DOUBLE)
        |    - (CAST(degree_sum AS DOUBLE)
        |        / (CAST(2.0 AS DOUBLE) * CAST(m AS DOUBLE)))
        |      * (CAST(degree_sum AS DOUBLE)
        |        / (CAST(2.0 AS DOUBLE) * CAST(m AS DOUBLE)))
        |  END AS contribution,
        |  CASE WHEN least(degree_sum, 2 * m - degree_sum) > 0 THEN
        |    CAST(degree_sum - 2 * coalesce(internal_edges, 0) AS DOUBLE)
        |    / CAST(least(degree_sum, 2 * m - degree_sum) AS DOUBLE)
        |  END AS conductance
        |FROM comm LEFT JOIN net USING (community) CROSS JOIN mm""".stripMargin,

    // the engine's Holt fold verbatim: DOUBLE[] list_reduce state
    // (q307 discipline — struct accumulators don't fold in DuckDB),
    // complements computed IN-ENGINE as 1.0 − α (a pre-printed 0.7
    // literal is an ulp off), l₂ recomputed textually inside b₂
    "q327_holt_linear" -> {
      val a = "CAST(0.300000000 AS DOUBLE)"
      val bb = "CAST(0.100000000 AS DOUBLE)"
      val l2 = s"($a * x[1] + (CAST(1.0 AS DOUBLE) - $a) " +
        "* (acc[1] + acc[2]))"
      s"""WITH b AS (SELECT event_type, ts, event_id,
         |    CAST(value AS DOUBLE) AS v
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         |    AND event_type IS NOT NULL),
         |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    list_reduce(list_prepend(CAST([] AS DOUBLE[]),
         |      list_transform(list(v ORDER BY ts, event_id),
         |        x -> [CAST(x AS DOUBLE)])),
         |      (acc, x) -> CASE WHEN len(acc) = 0
         |        THEN [x[1], CAST(0.0 AS DOUBLE)]
         |        ELSE [$l2,
         |          $bb * ($l2 - acc[1])
         |            + (CAST(1.0 AS DOUBLE) - $bb) * acc[2]]
         |      END) AS s
         |  FROM b GROUP BY 1)
         |SELECT event_type, n, s[1] AS level, s[2] AS trend,
         |  s[1] + CAST(3.0 AS DOUBLE) * s[2] AS forecast
         |FROM st""".stripMargin
    },

    // the engine's carry-in chain verbatim: global per-key lead on
    // (t, event_id), hold exploded over the bucket grid
    // (generate_series ≡ Spark sequence, inclusive), integer segment
    // weights, one closing division; last hold ends at its own
    // bucket's edge
    "q326_twap_carry" ->
      """WITH b AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL AND value IS NOT NULL),
        |h AS (SELECT *, t - t % 3600000000 AS b0,
        |    coalesce(lead(t) OVER (PARTITION BY user_id
        |        ORDER BY t, event_id),
        |      t - t % 3600000000 + 3600000000) AS e
        |  FROM b),
        |s AS (SELECT user_id, b0, vc, t, e,
        |    unnest(generate_series(b0,
        |      greatest(b0, (e - 1) - (e - 1) % 3600000000),
        |      3600000000)) AS ib
        |  FROM h),
        |g AS (SELECT user_id, ib AS bucket_us,
        |    CAST(sum(CASE WHEN ib = b0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ticks,
        |    CAST(sum(greatest(0, least(e, ib + 3600000000)
        |      - greatest(t, ib))) AS BIGINT) AS ws,
        |    CAST(sum(vc * greatest(0, least(e, ib + 3600000000)
        |      - greatest(t, ib))) AS BIGINT) AS vw
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, bucket_us, n_ticks,
        |  CASE WHEN ws > 0 THEN
        |    CAST(vw AS DOUBLE) / CAST(ws AS DOUBLE) / 100.0
        |  END AS twap
        |FROM g""".stripMargin,

    // the engine's log-space mSPRT chain verbatim: round-9 ln of the
    // shrinkage factor, exact-decimal S − nθ₀ closed to double, the
    // quadratic term a raw pinned IEEE chain, first crossing of the
    // 1e-9-grid ln(1/α) literal
    "q325_msprt" -> {
      def l9(x: Double) =
        BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .bigDecimal.toPlainString
      val sig2 = l9(0.45 * 0.55)
      val tau2 = l9(0.1 * 0.1)
      val thr = l9(math.log(1.0 / 0.05))
      val den = s"(CAST($sig2 AS DOUBLE) + CAST(n AS DOUBLE) " +
        s"* CAST($tau2 AS DOUBLE))"
      s"""WITH b AS (SELECT event_type, ts, event_id,
         |    CASE WHEN value >= 50 THEN 1 ELSE 0 END AS y
         |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
         |    AND value IS NOT NULL AND event_type IS NOT NULL),
         |w AS (SELECT *, CAST(count(*) OVER win AS BIGINT) AS n,
         |    CAST(sum(y) OVER win AS BIGINT) AS s,
         |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
         |      AS nt,
         |    CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS st
         |  FROM b WINDOW win AS (PARTITION BY event_type
         |    ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |v AS (SELECT *, CAST(CAST(s AS DECIMAL(38,9))
         |    - n * CAST(0.45 AS DECIMAL(12,9)) AS DOUBLE) AS dev
         |  FROM w),
         |l AS (SELECT *,
         |    CAST(0.5 AS DOUBLE)
         |      * round(ln(CAST($sig2 AS DOUBLE) / $den), 9)
         |    + CAST($tau2 AS DOUBLE) * dev * dev
         |      / (CAST(2.0 AS DOUBLE) * CAST($sig2 AS DOUBLE) * $den)
         |    AS ll FROM v),
         |d AS (SELECT *, CASE WHEN ll >= CAST($thr AS DOUBLE)
         |    THEN 'reject' END AS dcn FROM l),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY CASE WHEN dcn IS NOT NULL THEN 0 ELSE 1 END,
         |      CASE WHEN dcn IS NOT NULL THEN n ELSE -n END) AS rk
         |  FROM d)
         |SELECT event_type, nt AS n_total, st AS n_pos,
         |  dcn AS decision,
         |  CASE WHEN dcn IS NOT NULL THEN n END AS n_at_decision,
         |  ll AS log_lambda_at_decision
         |FROM r WHERE rk = 1""".stripMargin
    },

    // the engine's pinned chain verbatim: look = floor((rk-1)*5/n)+1
    // on the (ts, event_id) total order, cumulative cells, z =
    // (ct/nt - cc/nc)/sqrt(pp*(1-pp)*(1/nt+1/nc)), OBF literals on
    // the 1e-9 grid, earliest |z| >= boundary wins, else last look
    "q324_group_sequential" -> {
      def l9(x: Double) =
        BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .bigDecimal.toPlainString
      val caseB = (1 to 5).map(i =>
          s"WHEN look = $i THEN CAST(${l9(2.04 * math.sqrt(5.0 / i))} " +
            "AS DOUBLE)")
        .mkString("CASE ", " ", " END")
      s"""WITH b AS (SELECT event_type AS k, ts, event_id,
         |    (user_id % 2 = 0) AS v, value >= 55 AS y
         |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
         |    AND user_id IS NOT NULL
         |    AND value IS NOT NULL AND event_type IS NOT NULL),
         |r AS (SELECT *, row_number() OVER (PARTITION BY k
         |      ORDER BY ts, event_id) AS rk,
         |    count(*) OVER (PARTITION BY k) AS n FROM b),
         |l AS (SELECT k, v, y, CAST(floor(
         |      CAST((rk - 1) * 5 AS DOUBLE) / CAST(n AS DOUBLE))
         |      + 1 AS INT) AS look FROM r),
         |cells AS (SELECT k, look,
         |    sum(CASE WHEN v THEN 1 ELSE 0 END) AS nti,
         |    sum(CASE WHEN v AND y THEN 1 ELSE 0 END) AS cti,
         |    sum(CASE WHEN NOT v THEN 1 ELSE 0 END) AS nci,
         |    sum(CASE WHEN NOT v AND y THEN 1 ELSE 0 END) AS cci
         |  FROM l GROUP BY 1, 2),
         |cum AS (SELECT k, look,
         |    CAST(sum(nti) OVER w AS BIGINT) AS n_treat,
         |    CAST(sum(cti) OVER w AS BIGINT) AS conv_treat,
         |    CAST(sum(nci) OVER w AS BIGINT) AS n_ctrl,
         |    CAST(sum(cci) OVER w AS BIGINT) AS conv_ctrl
         |  FROM cells WINDOW w AS (PARTITION BY k ORDER BY look
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |zz AS (SELECT *,
         |    (CAST(conv_treat AS DOUBLE) + CAST(conv_ctrl AS DOUBLE))
         |      / (CAST(n_treat AS DOUBLE) + CAST(n_ctrl AS DOUBLE))
         |      AS pp FROM cum),
         |j AS (SELECT k, look, n_treat, conv_treat, n_ctrl, conv_ctrl,
         |    CASE WHEN n_treat > 0 AND n_ctrl > 0 AND pp > 0.0
         |        AND pp < 1.0 THEN
         |      (CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
         |        - CAST(conv_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE))
         |      / sqrt(pp * (CAST(1.0 AS DOUBLE) - pp)
         |        * (CAST(1.0 AS DOUBLE) / CAST(n_treat AS DOUBLE)
         |          + CAST(1.0 AS DOUBLE) / CAST(n_ctrl AS DOUBLE)))
         |    END AS z,
         |    $caseB AS boundary FROM zz),
         |d AS (SELECT *, z IS NOT NULL AND abs(z) >= boundary AS dec
         |  FROM j),
         |p AS (SELECT *, row_number() OVER (PARTITION BY k
         |    ORDER BY CASE WHEN dec THEN 0 ELSE 1 END,
         |      CASE WHEN dec THEN look ELSE -look END) AS pr FROM d)
         |SELECT k AS event_type, look, n_treat, conv_treat, n_ctrl,
         |  conv_ctrl, z, boundary,
         |  CASE WHEN dec THEN CASE WHEN z > 0 THEN 'reject_up'
         |    ELSE 'reject_down' END END AS decision
         |FROM p WHERE pr = 1""".stripMargin
    },

    // H = T / (2·n·S) with T = Σ c·|n·v − S| — every term an exact
    // integer, ONE closing division
    "q313_hoover" ->
      """WITH b AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |t0 AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(v * c) AS BIGINT) AS s FROM g GROUP BY 1),
        |j AS (SELECT g.event_type, t0.n, t0.s,
        |    c * abs(t0.n * g.v - t0.s) AS t
        |  FROM g JOIN t0 USING (event_type))
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CASE WHEN max(s) > 0 THEN CAST(sum(t) AS DOUBLE)
        |    / (2.0 * CAST(max(n) AS DOUBLE) * CAST(max(s) AS DOUBLE))
        |  END AS hoover
        |FROM j GROUP BY 1""".stripMargin,

    // entity revenue totals in exact cents; HHI = Σt² / S² and the
    // rank-windowed CR4, all integer until the closing divisions
    "q314_hhi" ->
      """WITH b AS (SELECT l_returnflag, l_suppkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND l_suppkey IS NOT NULL AND l_returnflag IS NOT NULL),
        |e AS (SELECT l_returnflag, l_suppkey,
        |    CAST(sum(v) AS HUGEINT) AS t FROM b GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY t DESC, l_suppkey) AS rn FROM e)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_entities,
        |  CASE WHEN sum(t) > 0 THEN CAST(sum(t * t) AS DOUBLE)
        |    / (CAST(sum(t) AS DOUBLE) * CAST(sum(t) AS DOUBLE))
        |  END AS hhi,
        |  CASE WHEN sum(t) > 0 THEN
        |    CAST(sum(CASE WHEN rn <= 4 THEN t ELSE 0 END) AS DOUBLE)
        |      / CAST(sum(t) AS DOUBLE)
        |  END AS cr4
        |FROM r GROUP BY 1""".stripMargin,

    // distinct-score grid, exact cumulative TP/ALL on the descending
    // window, ΔTP·precision terms folded in score-descending order
    // (FILTERed to positive thresholds), one closing /n_pos
    "q310_avg_precision" ->
      """WITH b AS (SELECT l_linestatus,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS s,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        |  FROM lineitem WHERE l_quantity IS NOT NULL
        |    AND l_returnflag IS NOT NULL),
        |g AS (SELECT l_linestatus, s, CAST(sum(pos) AS BIGINT) AS c1,
        |    CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |w AS (SELECT *, CAST(sum(c1) OVER (PARTITION BY l_linestatus
        |      ORDER BY s DESC) AS BIGINT) AS tp,
        |    CAST(sum(c) OVER (PARTITION BY l_linestatus
        |      ORDER BY s DESC) AS BIGINT) AS al FROM g),
        |t AS (SELECT l_linestatus, s, c1, c,
        |    CAST(c1 AS DOUBLE) * (CAST(tp AS DOUBLE) / CAST(al AS DOUBLE))
        |      AS tm FROM w)
        |SELECT l_linestatus, CAST(sum(c1) AS BIGINT) AS n_pos,
        |  CAST(sum(c - c1) AS BIGINT) AS n_neg,
        |  CASE WHEN sum(c1) >= 1 THEN
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(tm ORDER BY s DESC) FILTER (WHERE c1 > 0)),
        |      (a, x) -> a + x) / CAST(sum(c1) AS DOUBLE)
        |  END AS ap
        |FROM t GROUP BY 1""".stripMargin,

    // value-grid clamp: inner ranks keep their value, the ⌊n·f⌋ tail
    // ranks take the boundary order statistics; exact integer cents
    "q311_winsorized_mean" ->
      """WITH b AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |w AS (SELECT *, CAST(sum(c) OVER (PARTITION BY event_type
        |      ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM g),
        |k AS (SELECT *, CAST(floor(CAST(n AS DOUBLE) * 0.1) AS BIGINT)
        |    AS kk FROM w),
        |f AS (SELECT event_type, n, kk, v,
        |    greatest(CAST(0 AS BIGINT), least(cum, n - kk)
        |      - greatest(cum - c, kk)) AS keepn,
        |    CASE WHEN cum >= kk + 1 THEN v END AS lov,
        |    CASE WHEN cum >= n - kk THEN v END AS hiv
        |  FROM k)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum(v * keepn) + max(kk) * min(lov)
        |      + max(kk) * min(hiv) AS DOUBLE)
        |    / CAST(max(n) AS DOUBLE) / 100.0 AS winsorized_mean
        |FROM f GROUP BY 1""".stripMargin,

    // exact cent grid, one pinned mean, round-9 (v/mu)·ln(v/mu) terms
    // in decimal, one closing /n
    "q312_theil" ->
      """WITH b AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND CAST(value AS DECIMAL(18,2)) > 0),
        |g AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |t0 AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
        |    sum(v * c) AS sv FROM g GROUP BY 1),
        |j AS (SELECT g.event_type, g.c, t0.n,
        |    CAST(g.v AS DOUBLE)
        |      / (CAST(t0.sv AS DOUBLE) / CAST(t0.n AS DOUBLE)) AS ratio
        |  FROM g JOIN t0 USING (event_type))
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(CAST(c AS DOUBLE) * (ratio * ln(ratio)), 9)
        |    AS DECIMAL(12,9))) AS DOUBLE) / CAST(max(n) AS DOUBLE)
        |    AS theil
        |FROM j GROUP BY 1""".stripMargin,

    // batch ≡ stream on CLOSED buckets: the q301 integer-unit batch
    // twap per user, filtered to bucket < each user's max bucket (a
    // stream only closes a bucket when a later tick arrives)
    "q309_stream_twap" ->
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
        |FROM f WHERE bu < mx""".stripMargin,

    // the q204 blocked all-pairs oracle with DuckDB's own
    // damerau_levenshtein (the kernel is pinned to it byte-for-byte)
    "q308_dl_join" ->
      """WITH s AS (SELECT p_partkey AS id, p_name AS s FROM part
        |  WHERE p_name IS NOT NULL AND len(p_name) >= 1)
        |SELECT a.id AS id1, b.id AS id2,
        |  CAST(damerau_levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM s a JOIN s b ON a.id < b.id
        |  AND substr(a.s, 1, 1) = substr(b.s, 1, 1)
        |  AND abs(len(a.s) - len(b.s)) <= 2
        |WHERE damerau_levenshtein(a.s, b.s) <= 2""".stripMargin,

    // pinned counts: non-empty tokens, [.!?]+ runs (min 1), vowel-group
    // runs (min 1/token); grade replays the exact IEEE order
    "q205_readability" ->
      """WITH t AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS w
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CASE WHEN text IS NULL THEN NULL ELSE
        |      greatest(CAST(1 AS BIGINT),
        |        CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
        |    END AS n_sentences,
        |    CASE WHEN text IS NULL THEN NULL ELSE
        |      CAST(coalesce(list_sum(list_transform(w, x -> greatest(1,
        |        len(regexp_extract_all(x, '[aeiouyAEIOUY]+'))))), 0) AS BIGINT)
        |    END AS n_syllables
        |  FROM t)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    - 15.59 END AS fk_grade
        |FROM c""".stripMargin,

    "q206_hapax" ->
      """WITH tok AS (SELECT source, unnest(list_filter(
        |    string_split_regex(coalesce(text,''),'\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |        FROM tok GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS vocab_size,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS hapax_rate
        |FROM cnt GROUP BY 1""".stripMargin,

    // exact decimal moments, then the pinned IEEE chain: cross-
    // multiplied sample variance, se2 = va/na + vb/nb left-to-right,
    // sqrt correctly rounded in both engines
    "q208_welch_t" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |m AS (SELECT event_type,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    sum(CASE WHEN arm = 'a' THEN v END) AS sa0,
        |    sum(CASE WHEN arm = 'a' THEN v * v END) AS ssa0,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN arm = 'b' THEN v END) AS sb0,
        |    sum(CASE WHEN arm = 'b' THEN v * v END) AS ssb0
        |  FROM e GROUP BY 1),
        |d AS (SELECT event_type, n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb2,
        |    CAST(sa0 AS DOUBLE) AS sa, CAST(ssa0 AS DOUBLE) AS ssa,
        |    CAST(sb0 AS DOUBLE) AS sb, CAST(ssb0 AS DOUBLE) AS ssb FROM m),
        |v AS (SELECT *, (na * ssa - sa * sa) / (na * (na - 1.0)) AS va,
        |    (nb2 * ssb - sb * sb) / (nb2 * (nb2 - 1.0)) AS vb FROM d),
        |s2 AS (SELECT *, va / na AS sea, vb / nb2 AS seb,
        |    va / na + vb / nb2 AS se2 FROM v)
        |SELECT event_type, n_a, n_b,
        |  CASE WHEN n_a > 0 THEN sa / na END AS mean_a,
        |  CASE WHEN n_b > 0 THEN sb / nb2 END AS mean_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0.0
        |    THEN (sa / na - sb / nb2) / sqrt(se2) END AS t,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0.0
        |    THEN (se2 * se2) / ((sea * sea) / (na - 1.0)
        |      + (seb * seb) / (nb2 - 1.0)) END AS dof
        |FROM s2""".stripMargin,

    // same md5 uniform, same quantized integer priority, same
    // (priority, key) total order
    "q209_weighted_priority" ->
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |    ('0x' || substr(md5(doc_id::VARCHAR || 'wp1'), 1, 8))::BIGINT AS u,
        |    CAST(round(CAST(n_chars AS DOUBLE)) AS BIGINT) AS w
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL),
        |p AS (SELECT doc_id, lang, n_chars, (u * 1048576) // w AS prio
        |  FROM d WHERE w >= 1)
        |SELECT doc_id, lang, n_chars FROM p
        |QUALIFY row_number() OVER (PARTITION BY lang
        |  ORDER BY prio, doc_id) <= 5""".stripMargin,

    // replay the per-position hash rule over the same non-empty tokens
    "q210_mlm_mask" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |z AS (SELECT doc_id, w,
        |    list_transform(range(len(w)), i ->
        |      ('0x' || substr(md5(doc_id::VARCHAR || '_' || i::VARCHAR
        |        || '_mlm1'), 1, 8))::BIGINT % 7 = 0) AS hits
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  coalesce(array_to_string(list_transform(range(len(w)), i ->
        |    CASE WHEN hits[i + 1] THEN '<mask>' ELSE w[i + 1] END), ' '), '')
        |    AS masked_text,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(range(len(w)), i -> hits[i + 1]),
        |    i -> i::VARCHAR || ':' || w[i + 1]), ' '), '') AS targets,
        |  CAST(len(list_filter(range(len(w)), i -> hits[i + 1])) AS BIGINT)
        |    AS n_masked
        |FROM z""".stripMargin,

    // all-integer largest remainder: floor shares + one cent to the
    // top-(T - Σfloor) remainders, ties by (line number, weight) — the
    // fixture repeats (orderkey, linenumber), so the chain must end in
    // the weight to make the output multiset engine-independent
    "q207_prorata" ->
      """WITH j AS (SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
        |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS tc,
        |    CAST(l.l_quantity AS BIGINT) AS w
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |a AS (SELECT *, sum(w) OVER (PARTITION BY l_orderkey) AS tw FROM j),
        |b AS (SELECT *,
        |    CASE WHEN tw > 0 THEN (tc * w) // tw END AS base,
        |    CASE WHEN tw > 0 THEN (tc * w) % tw END AS rem
        |  FROM a),
        |c AS (SELECT *,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY rem DESC NULLS LAST, l_linenumber, w) AS rk,
        |    tc - sum(base) OVER (PARTITION BY l_orderkey) AS leftover
        |  FROM b)
        |SELECT l_orderkey, l_linenumber, l_quantity,
        |  CASE WHEN tw > 0 THEN CAST(base +
        |    CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS DOUBLE)
        |    / CAST(100 AS DOUBLE) END AS allocated
        |FROM c""".stripMargin,

    // same doubled-rank grid (2·cum − c + 1 per tie run), exact
    // decimal rank sums, and the pinned z composition
    "q211_mann_whitney" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |g AS (SELECT event_type, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2),
        |r AS (SELECT *, CAST(sum(c) OVER (PARTITION BY event_type
        |    ORDER BY v) AS BIGINT) AS cum FROM g),
        |r2 AS (SELECT *, 2 * cum - c + 1 AS dr FROM r),
        |m AS (SELECT event_type,
        |    CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
        |    sum(CAST(ca * dr AS DECIMAL(38,0))) AS ra2,
        |    sum(CAST(c * c * c - c AS DECIMAL(38,0))) AS tt
        |  FROM r2 GROUP BY 1),
        |d AS (SELECT event_type, n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(ra2 AS DOUBLE) AS ra2d, CAST(tt AS DOUBLE) AS td FROM m),
        |z AS (SELECT *, na + nb AS nn,
        |    ra2d / 2.0 - na * (na + 1.0) / 2.0 AS ua FROM d),
        |s2 AS (SELECT *, na * nb / 12.0 *
        |    ((nn + 1.0) - td / (nn * (nn - 1.0))) AS sig2 FROM z)
        |SELECT event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN ua END AS u_a,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN na * nb - ua END AS u_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND sig2 > 0.0
        |    THEN (ua - na * nb / 2.0) / sqrt(sig2) END AS z
        |FROM s2""".stripMargin,

    // doubled average rank from both sort directions
    // (rank_asc + n − rank_desc + 1), exact decimal moments, pearson
    // closing composition
    "q212_spearman" ->
      """WITH b AS (SELECT l_returnflag,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |r AS (SELECT l_returnflag,
        |    CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY x ASC)
        |      + count(*) OVER (PARTITION BY l_returnflag)
        |      - rank() OVER (PARTITION BY l_returnflag ORDER BY x DESC)
        |      + 1 AS BIGINT) AS rx,
        |    CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY y ASC)
        |      + count(*) OVER (PARTITION BY l_returnflag)
        |      - rank() OVER (PARTITION BY l_returnflag ORDER BY y DESC)
        |      + 1 AS BIGINT) AS ry
        |  FROM b),
        |m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(rx AS DECIMAL(38,0))) AS sx,
        |    sum(CAST(ry AS DECIMAL(38,0))) AS sy,
        |    sum(CAST(rx * ry AS DECIMAL(38,0))) AS sxy,
        |    sum(CAST(rx * rx AS DECIMAL(38,0))) AS sxx,
        |    sum(CAST(ry * ry AS DECIMAL(38,0))) AS syy
        |  FROM r GROUP BY 1),
        |d AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd FROM m)
        |SELECT l_returnflag, n,
        |  CASE WHEN nd * sxxd - sxd * sxd > 0 AND nd * syyd - syd * syd > 0
        |    THEN (nd * sxyd - sxd * syd) / (sqrt(nd * sxxd - sxd * sxd)
        |      * sqrt(nd * syyd - syd * syd)) END AS rho
        |FROM d""".stripMargin,

    // p = u² of the 32-bit md5 draw (exact: /2^32 is a power-of-two
    // division); step-up rule replayed with the same IEEE m·p/k
    "q213_bh_fdr" ->
      """WITH d AS (SELECT lang, doc_id,
        |    (('0x' || substr(md5(doc_id::VARCHAR || 'bh1'), 1, 8))::BIGINT
        |      / 4294967296.0) AS u
        |  FROM documents),
        |p0 AS (SELECT lang, doc_id, u * u AS p FROM d WHERE u IS NOT NULL),
        |r AS (SELECT lang, doc_id, p,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY p, doc_id) AS BIGINT) AS "rank",
        |    CAST(count(*) OVER (PARTITION BY lang) AS DOUBLE) AS m
        |  FROM p0),
        |a AS (SELECT lang, doc_id, p, "rank",
        |    least(1.0, min(m * p / CAST("rank" AS DOUBLE)) OVER (
        |      PARTITION BY lang ORDER BY p DESC, doc_id DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS p_adj
        |  FROM r)
        |SELECT lang, doc_id, p, "rank", p_adj, p_adj <= 0.3 AS significant
        |FROM a""".stripMargin,

    // same integer grid: doubled midpoint ranks per (source, value),
    // pooled CDF exploded to a rank->value map, ceil via floor-div
    "q214_quantile_norm" ->
      """WITH b AS (SELECT doc_id, source, n_chars,
        |    CAST(n_chars AS BIGINT) AS v
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |g AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c
        |      FROM b GROUP BY 1, 2),
        |gc AS (SELECT *,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS ns FROM g),
        |g2 AS (SELECT source, v, 2 * cum - c + 1 AS r2, ns FROM gc),
        |p AS (SELECT v AS pv, CAST(count(*) AS BIGINT) AS pc FROM b GROUP BY 1),
        |pc2 AS (SELECT *, CAST(sum(pc) OVER (ORDER BY pv) AS BIGINT) AS pcm
        |        FROM p),
        |np AS (SELECT max(pcm) AS np FROM pc2),
        |rmap AS (SELECT pv, unnest(generate_series(pcm - pc + 1, pcm)) AS t
        |         FROM pc2),
        |tgt AS (SELECT source, v,
        |    (r2 * np.np + 2 * ns - 1) // (2 * ns) AS t
        |  FROM g2 CROSS JOIN np),
        |mapv AS (SELECT source, v, pv FROM tgt JOIN rmap USING (t))
        |SELECT doc_id, b.source, b.n_chars,
        |  CAST(pv AS DOUBLE) AS normalized
        |FROM b JOIN mapv ON mapv.source = b.source AND mapv.v = b.v""".stripMargin,

    // the q23 language-ID prediction replayed, then the exact-count
    // contingency/marginal kappa with the pinned division chain
    "q215_judge_kappa" ->
      """WITH t AS (SELECT source, lang,
        |    list_distinct(string_split_regex(text, '\s+')) AS dw
        |  FROM documents),
        |h AS (SELECT source, lang,
        |  CAST(len(list_intersect(dw, ['the','and','of','to','in','is','that','it','with','for'])) AS BIGINT) AS en_hits,
        |  CAST(len(list_intersect(dw, ['el','la','de','que','y','en','un','los','por','con'])) AS BIGINT) AS es_hits,
        |  CAST(len(list_intersect(dw, ['der','die','und','das','ist','von','mit','den','ein','nicht'])) AS BIGINT) AS de_hits,
        |  CAST(len(list_intersect(dw, ['le','la','de','et','un','les','des','en','que','pour'])) AS BIGINT) AS fr_hits
        | FROM t),
        |pr AS (SELECT source, CAST(lang AS VARCHAR) AS r1,
        |  CASE WHEN en_hits = g AND en_hits > 0 THEN 'en'
        |       WHEN es_hits = g AND es_hits > 0 THEN 'es'
        |       WHEN de_hits = g AND de_hits > 0 THEN 'de'
        |       WHEN fr_hits = g AND fr_hits > 0 THEN 'fr'
        |       ELSE 'und' END AS r2
        |  FROM (SELECT *, greatest(en_hits, es_hits, de_hits, fr_hits) AS g
        |        FROM h)
        |  WHERE lang IS NOT NULL),
        |cont AS (SELECT source, r1, r2, CAST(count(*) AS BIGINT) AS c
        |         FROM pr GROUP BY 1, 2, 3),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN r1 = r2 THEN c ELSE 0 END) AS BIGINT) AS agree
        |  FROM cont GROUP BY 1),
        |m1 AS (SELECT source, r1 AS cat, CAST(sum(c) AS BIGINT) AS c1
        |       FROM cont GROUP BY 1, 2),
        |m2 AS (SELECT source, r2 AS cat, CAST(sum(c) AS BIGINT) AS c2
        |       FROM cont GROUP BY 1, 2),
        |pe AS (SELECT source, sum(CAST(c1 * c2 AS DECIMAL(38,0))) AS pen
        |       FROM m1 JOIN m2 USING (source, cat) GROUP BY 1),
        |d AS (SELECT tot.source, n,
        |    CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |    CAST(pen AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
        |  FROM tot JOIN pe USING (source))
        |SELECT source, n, po, pe,
        |  CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END AS kappa
        |FROM d""".stripMargin,

    // rank by (count DESC, token); round-9 libm logs onto the
    // DECIMAL(18,9) grid; moments truncated to the 1e-6 grid before
    // the double cast (wide-scale decimal→double double-rounds in
    // hugeint engines; the snapped cast is single-rounded everywhere)
    "q216_zipf_slope" ->
      """WITH tok AS (SELECT source, unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
        |      FROM tok GROUP BY 1, 2),
        |r AS (SELECT source, cnt, row_number() OVER (PARTITION BY source
        |      ORDER BY cnt DESC, tok) AS rk FROM c),
        |xy AS (SELECT source,
        |    CAST(round(ln(CAST(rk AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
        |    CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
        |  FROM r),
        |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx0, sum(y) AS sy0, sum(x * y) AS sxy0,
        |    sum(x * x) AS sxx0, sum(y * y) AS syy0
        |  FROM xy GROUP BY 1),
        |d AS (SELECT source, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(sx0 - (sx0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sx,
        |    CAST(CAST(sy0 - (sy0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sy,
        |    CAST(CAST(sxy0 - (sxy0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sxy,
        |    CAST(CAST(sxx0 - (sxx0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sxx,
        |    CAST(CAST(syy0 - (syy0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS syy
        |  FROM m),
        |v AS (SELECT *, nd * sxx - sx * sx AS vx, nd * syy - sy * sy AS vy,
        |    nd * sxy - sx * sy AS cov FROM d)
        |SELECT source, n,
        |  CASE WHEN vx > 0 THEN cov / vx END AS slope,
        |  CASE WHEN vx > 0 THEN (sy - (cov / vx) * sx) / nd END AS intercept,
        |  CASE WHEN vx > 0 AND vy > 0
        |    THEN cov / (sqrt(vx) * sqrt(vy)) END AS corr
        |FROM v""".stripMargin,

    // cent-grid first digit by integer-string truncation; the same
    // pinned log10(1+1/d) literals; chi2 folds digits 1..9 in order
    "q217_benford" ->
      """WITH b AS (SELECT l_returnflag,
        |    substr(CAST(CAST(round(CAST(l_extendedprice AS DOUBLE) * 100)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS dg
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) >= 1),
        |m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN dg = '1' THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN dg = '2' THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |    CAST(sum(CASE WHEN dg = '3' THEN 1 ELSE 0 END) AS BIGINT) AS d3,
        |    CAST(sum(CASE WHEN dg = '4' THEN 1 ELSE 0 END) AS BIGINT) AS d4,
        |    CAST(sum(CASE WHEN dg = '5' THEN 1 ELSE 0 END) AS BIGINT) AS d5,
        |    CAST(sum(CASE WHEN dg = '6' THEN 1 ELSE 0 END) AS BIGINT) AS d6,
        |    CAST(sum(CASE WHEN dg = '7' THEN 1 ELSE 0 END) AS BIGINT) AS d7,
        |    CAST(sum(CASE WHEN dg = '8' THEN 1 ELSE 0 END) AS BIGINT) AS d8,
        |    CAST(sum(CASE WHEN dg = '9' THEN 1 ELSE 0 END) AS BIGINT) AS d9
        |  FROM b GROUP BY 1),
        |t AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(d1 AS DOUBLE) AS o1, CAST(d2 AS DOUBLE) AS o2,
        |    CAST(d3 AS DOUBLE) AS o3, CAST(d4 AS DOUBLE) AS o4,
        |    CAST(d5 AS DOUBLE) AS o5, CAST(d6 AS DOUBLE) AS o6,
        |    CAST(d7 AS DOUBLE) AS o7, CAST(d8 AS DOUBLE) AS o8,
        |    CAST(d9 AS DOUBLE) AS o9 FROM m)
        |SELECT l_returnflag, n,
        |  CASE WHEN n > 0 THEN
        |    (o1 - nd * 0.3010299956639812) * (o1 - nd * 0.3010299956639812) / (nd * 0.3010299956639812)
        |    + (o2 - nd * 0.17609125905568124) * (o2 - nd * 0.17609125905568124) / (nd * 0.17609125905568124)
        |    + (o3 - nd * 0.12493873660829992) * (o3 - nd * 0.12493873660829992) / (nd * 0.12493873660829992)
        |    + (o4 - nd * 0.09691001300805642) * (o4 - nd * 0.09691001300805642) / (nd * 0.09691001300805642)
        |    + (o5 - nd * 0.07918124604762482) * (o5 - nd * 0.07918124604762482) / (nd * 0.07918124604762482)
        |    + (o6 - nd * 0.06694678963061322) * (o6 - nd * 0.06694678963061322) / (nd * 0.06694678963061322)
        |    + (o7 - nd * 0.05799194697768673) * (o7 - nd * 0.05799194697768673) / (nd * 0.05799194697768673)
        |    + (o8 - nd * 0.05115252244738129) * (o8 - nd * 0.05115252244738129) / (nd * 0.05115252244738129)
        |    + (o9 - nd * 0.04575749056067514) * (o9 - nd * 0.04575749056067514) / (nd * 0.04575749056067514)
        |  END AS chi2,
        |  CASE WHEN n > 0 THEN
        |    (abs(o1 / nd - 0.3010299956639812)
        |    + abs(o2 / nd - 0.17609125905568124)
        |    + abs(o3 / nd - 0.12493873660829992)
        |    + abs(o4 / nd - 0.09691001300805642)
        |    + abs(o5 / nd - 0.07918124604762482)
        |    + abs(o6 / nd - 0.06694678963061322)
        |    + abs(o7 / nd - 0.05799194697768673)
        |    + abs(o8 / nd - 0.05115252244738129)
        |    + abs(o9 / nd - 0.04575749056067514)) / 9.0
        |  END AS mad
        |FROM t""".stripMargin,

    // subjects: per-user first/last day, censored within 7 days of
    // the corpus edge; KM with the deaths-before-censorings at-risk
    // rule; log-survival = exact decimal sum of round-9 libm logs
    "q218_kaplan_meier" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |per AS (SELECT user_id, min(d) AS first_d, max(d) AS last_d
        |        FROM e GROUP BY 1),
        |mx AS (SELECT max(last_d) AS mxd FROM per),
        |subj AS (SELECT date_trunc('month', first_d) AS cohort,
        |    CAST(last_d - first_d AS BIGINT) AS t,
        |    (mxd - last_d) >= 7 AS obs
        |  FROM per CROSS JOIN mx),
        |g AS (SELECT cohort, t,
        |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY 1, 2),
        |r AS (SELECT *,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort) AS BIGINT) AS tot,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS cum
        |  FROM g),
        |k AS (SELECT cohort, t, tot - cum + d + c AS n_risk, d, c FROM r),
        |f AS (SELECT *, CASE WHEN n_risk > d THEN
        |    CAST(round(ln(CAST(n_risk - d AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE)), 9) AS DECIMAL(12,9)) END AS lf
        |  FROM k)
        |SELECT cohort, t, n_risk, d, c,
        |  CASE WHEN lf IS NOT NULL THEN
        |    CAST(sum(lf) OVER (PARTITION BY cohort ORDER BY t) AS DOUBLE)
        |  END AS log_surv
        |FROM f""".stripMargin,

    // align x_t with y_{t+lag} by an equi join on the shifted index;
    // exact integer moments, pearson closing
    "q219_lagged_corr" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |d AS (SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS t,
        |    CAST(x AS DECIMAL(18,0)) AS x, CAST(y AS DECIMAL(18,0)) AS y
        |  FROM daily),
        |l AS (SELECT t, x, lag FROM d
        |      CROSS JOIN (SELECT unnest(range(0, 8)) AS lag)),
        |j AS (SELECT l.lag, l.x, d2.y FROM l
        |      JOIN d d2 ON d2.t = l.t + l.lag),
        |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM j GROUP BY 1),
        |dd AS (SELECT lag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd FROM m),
        |v AS (SELECT *, nd * sxxd - sxd * sxd AS vx,
        |    nd * syyd - syd * syd AS vy, nd * sxyd - sxd * syd AS cov
        |  FROM dd)
        |SELECT CAST(lag AS INT) AS lag, n,
        |  CASE WHEN n >= 2 AND vx > 0 AND vy > 0
        |    THEN cov / (sqrt(vx) * sqrt(vy)) END AS corr
        |FROM v""".stripMargin,

    // the q218 subject/at-risk machinery verbatim; increments d/n on
    // the 1e-9 grid carried as exact integer NANO-units through the
    // running window (DuckDB's windowed DECIMAL sum routes through
    // double — the q281 lesson), one closing /1e9
    "q299_nelson_aalen" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |per AS (SELECT user_id, min(d) AS first_d, max(d) AS last_d
        |        FROM e GROUP BY 1),
        |mx AS (SELECT max(last_d) AS mxd FROM per),
        |subj AS (SELECT date_trunc('month', first_d) AS cohort,
        |    CAST(last_d - first_d AS BIGINT) AS t,
        |    (mxd - last_d) >= 7 AS obs
        |  FROM per CROSS JOIN mx),
        |g AS (SELECT cohort, t,
        |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY 1, 2),
        |r AS (SELECT *,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort) AS BIGINT) AS tot,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS cum
        |  FROM g),
        |k AS (SELECT cohort, t, tot - cum + d + c AS n_risk, d, c FROM r),
        |f AS (SELECT *, CAST(CAST(round(CAST(d AS DOUBLE)
        |    / CAST(n_risk AS DOUBLE), 9) AS DECIMAL(12,9))
        |    * 1000000000 AS BIGINT) AS hn FROM k)
        |SELECT cohort, t, n_risk, d, c,
        |  CAST(sum(hn) OVER (PARTITION BY cohort ORDER BY t) AS DOUBLE)
        |    / 1000000000.0 AS cum_hazard
        |FROM f""".stripMargin,

    // the q293 moment machinery with lead/lag shifted y in exact
    // cents; every moment an exact integer-grid sum over one
    // correctly-rounded division
    "q300_ccf" ->
      """WITH b AS (SELECT event_type, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc,
        |    CAST(CAST(length(props) AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS yc
        |  FROM events WHERE ts IS NOT NULL
        |    AND value IS NOT NULL AND props IS NOT NULL),
        |l AS (SELECT event_type, xc, yc AS p0,
        |    lead(yc, 1) OVER w AS p1, lead(yc, 2) OVER w AS p2,
        |    lead(yc, 3) OVER w AS p3,
        |    lag(yc, 1) OVER w AS m1, lag(yc, 2) OVER w AS m2,
        |    lag(yc, 3) OVER w AS m3
        |  FROM b WINDOW w AS (PARTITION BY event_type
        |    ORDER BY ts, event_id)),
        |p AS (
        |  SELECT event_type, -3 AS lag, xc, m3 AS sh FROM l
        |    WHERE m3 IS NOT NULL
        |  UNION ALL SELECT event_type, -2, xc, m2 FROM l
        |    WHERE m2 IS NOT NULL
        |  UNION ALL SELECT event_type, -1, xc, m1 FROM l
        |    WHERE m1 IS NOT NULL
        |  UNION ALL SELECT event_type, 0, xc, p0 FROM l
        |  UNION ALL SELECT event_type, 1, xc, p1 FROM l
        |    WHERE p1 IS NOT NULL
        |  UNION ALL SELECT event_type, 2, xc, p2 FROM l
        |    WHERE p2 IS NOT NULL
        |  UNION ALL SELECT event_type, 3, xc, p3 FROM l
        |    WHERE p3 IS NOT NULL),
        |m AS (SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
        |    sum(xc) AS sx2, sum(sh) AS sy2, sum(xc * sh) AS sxy4,
        |    sum(xc * xc) AS sxx4, sum(sh * sh) AS syy4
        |  FROM p GROUP BY 1, 2),
        |f AS (SELECT event_type, lag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx2 AS DOUBLE) / 100.0 AS sx,
        |    CAST(sy2 AS DOUBLE) / 100.0 AS sy,
        |    CAST(sxy4 AS DOUBLE) / 10000.0 AS sxy,
        |    CAST(sxx4 AS DOUBLE) / 10000.0 AS sxx,
        |    CAST(syy4 AS DOUBLE) / 10000.0 AS syy
        |  FROM m)
        |SELECT event_type, lag, n,
        |  CASE WHEN n >= 3 AND nd * sxx - sx * sx > 0
        |        AND nd * syy - sy * sy > 0
        |    THEN (nd * sxy - sx * sy) /
        |      (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))
        |  END AS corr
        |FROM f""".stripMargin,

    // exact integer cents × integer micros weighted sums; the lead
    // window's gap closes to the hour edge; two pinned divisions
    "q301_twap" ->
      """WITH b AS (SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) AS bu,
        |    epoch_us(ts) AS t, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL),
        |w AS (SELECT *, coalesce(lead(t) OVER (PARTITION BY event_type,
        |    bu ORDER BY t, event_id), bu + 3600000000) - t AS wt
        |  FROM b)
        |SELECT event_type, bu AS bucket_us,
        |  CAST(count(*) AS BIGINT) AS n_ticks,
        |  CASE WHEN sum(wt) > 0 THEN CAST(sum(vc * wt) AS DOUBLE)
        |    / CAST(sum(wt) AS DOUBLE) / 100.0 END AS twap
        |FROM w GROUP BY 1, 2""".stripMargin,

    // literal 0/1 null-indicator string, one grouped count, share over
    // the collapsed grid, count-desc/pattern total-order rank
    "q302_missingness" ->
      """WITH p AS (SELECT 'user_id='
        |    || (CASE WHEN user_id IS NULL THEN '0' ELSE '1' END)
        |    || ',event_type='
        |    || (CASE WHEN event_type IS NULL THEN '0' ELSE '1' END)
        |    || ',value='
        |    || (CASE WHEN value IS NULL THEN '0' ELSE '1' END)
        |    || ',props='
        |    || (CASE WHEN props IS NULL THEN '0' ELSE '1' END)
        |    AS pattern FROM events),
        |g AS (SELECT pattern, CAST(count(*) AS BIGINT) AS n
        |  FROM p GROUP BY 1),
        |t AS (SELECT *, CAST(sum(n) OVER () AS BIGINT) AS tot FROM g)
        |SELECT pattern, n,
        |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
        |  CAST(row_number() OVER (ORDER BY n DESC, pattern) AS INT)
        |    AS "rank"
        |FROM t""".stripMargin,

    // q253's bins verbatim, then n_b·|gap_b| folded SEQUENTIALLY in
    // bin order (list_reduce) and one closing division by N
    "q303_ece" ->
      """WITH e AS (SELECT event_type,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'cal'),
        |      1, 8))::BIGINT AS DOUBLE) / CAST(4294967296 AS DOUBLE) AS p,
        |    value >= 50 AS y
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type,
        |    least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
        |    CAST(round(p, 9) AS DECIMAL(18,9)) AS p9,
        |    CASE WHEN y THEN 1 ELSE 0 END AS pos
        |  FROM e WHERE p >= 0 AND p <= 1),
        |m AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n,
        |    sum(p9) AS sp, CAST(sum(pos) AS BIGINT) AS pos
        |  FROM b GROUP BY 1, 2),
        |g AS (SELECT event_type, bin, n,
        |    CAST(n AS DOUBLE) * abs(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)) AS t
        |  FROM m)
        |SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(t ORDER BY bin)), (a, x) -> a + x)
        |    / CAST(sum(n) AS DOUBLE) AS ece
        |FROM g GROUP BY 1""".stripMargin,

    // same grouped distinct-count audit, HAVING the at-risk filter
    "q304_l_diversity" ->
      """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_distinct
        |FROM customer GROUP BY 1, 2
        |HAVING count(DISTINCT c_acctbal) < 10""".stripMargin,

    // value-grid rank-interval trimming: kept(v) = |(k, n-k] ∩ run|,
    // exact integer cents throughout, one closing division
    "q305_trimmed_mean" ->
      """WITH b AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |w AS (SELECT *, CAST(sum(c) OVER (PARTITION BY event_type
        |      ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM g),
        |k AS (SELECT *, CAST(floor(CAST(n AS DOUBLE) * 0.1) AS BIGINT)
        |    AS kk FROM w),
        |f AS (SELECT event_type, n, v,
        |    greatest(CAST(0 AS BIGINT), least(cum, n - kk)
        |      - greatest(cum - c, kk)) AS kept
        |  FROM k)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum(kept) AS BIGINT) AS n_kept,
        |  CASE WHEN sum(kept) > 0 THEN CAST(sum(v * kept) AS DOUBLE)
        |    / CAST(sum(kept) AS DOUBLE) / 100.0 END AS trimmed_mean
        |FROM f GROUP BY 1""".stripMargin,

    // the q225 contingency machinery melted over unordered pairs and
    // grouped by (col_a, col_b); round-9 ln terms in decimal
    "q306_mi_matrix" ->
      """WITH d AS (SELECT CAST(lang AS VARCHAR) AS lang,
        |    CAST(source AS VARCHAR) AS source,
        |    CAST(CAST(floor(length(text) / 500) AS BIGINT) AS VARCHAR)
        |      AS len_bin
        |  FROM documents),
        |mm AS (
        |  SELECT 'lang' AS col_a, 'source' AS col_b, lang AS va,
        |      source AS vb FROM d
        |  UNION ALL SELECT 'lang', 'len_bin', lang, len_bin FROM d
        |  UNION ALL SELECT 'source', 'len_bin', source, len_bin FROM d),
        |base AS (SELECT * FROM mm WHERE va IS NOT NULL
        |  AND vb IS NOT NULL),
        |cont AS (SELECT col_a, col_b, va, vb,
        |    CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2, 3, 4),
        |tot AS (SELECT col_a, col_b, CAST(sum(c) AS BIGINT) AS n
        |  FROM cont GROUP BY 1, 2),
        |m1 AS (SELECT col_a, col_b, va, CAST(sum(c) AS BIGINT) AS c1
        |  FROM cont GROUP BY 1, 2, 3),
        |m2 AS (SELECT col_a, col_b, vb, CAST(sum(c) AS BIGINT) AS c2
        |  FROM cont GROUP BY 1, 2, 3),
        |cells AS (SELECT cont.col_a, cont.col_b, c, c1, c2, n FROM cont
        |  JOIN m1 USING (col_a, col_b, va)
        |  JOIN m2 USING (col_a, col_b, vb)
        |  JOIN tot USING (col_a, col_b)),
        |mi AS (SELECT col_a, col_b, CAST(min(n) AS BIGINT) AS n,
        |    CAST(sum(CAST(round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
        |        / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 9)
        |      AS DECIMAL(12,9))) AS DOUBLE) AS mi
        |  FROM cells GROUP BY 1, 2),
        |ha AS (SELECT col_a, col_b, CAST(sum(CAST(-round(
        |    (CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE)), 9)
        |    AS DECIMAL(12,9))) AS DOUBLE) AS h_a
        |  FROM m1 JOIN tot USING (col_a, col_b) GROUP BY 1, 2),
        |hb AS (SELECT col_a, col_b, CAST(sum(CAST(-round(
        |    (CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE)), 9)
        |    AS DECIMAL(12,9))) AS DOUBLE) AS h_b
        |  FROM m2 JOIN tot USING (col_a, col_b) GROUP BY 1, 2)
        |SELECT mi.col_a, mi.col_b, n, mi, h_a, h_b,
        |  CASE WHEN h_a > 0 AND h_b > 0
        |    THEN mi / (sqrt(h_a) * sqrt(h_b)) END AS nmi
        |FROM mi JOIN ha USING (col_a, col_b)
        |  JOIN hb USING (col_a, col_b)""".stripMargin,

    // the exact tie-run rank identity: a value run of count c ending
    // at cum contributes v*c*(2*cum-c+1) to 2*sum(i*x)
    "q220_gini" ->
      """WITH b AS (SELECT l_returnflag,
        |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) >= 0),
        |g AS (SELECT l_returnflag, v, CAST(count(*) AS BIGINT) AS c
        |      FROM b GROUP BY 1, 2),
        |r AS (SELECT *, CAST(sum(c) OVER (PARTITION BY l_returnflag
        |      ORDER BY v) AS BIGINT) AS cum FROM g),
        |m AS (SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS n,
        |    sum(CAST(v AS DECIMAL(19,0))
        |      * CAST(c * (2 * cum - c + 1) AS DECIMAL(19,0))) AS s2,
        |    sum(CAST(v AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS sx
        |  FROM r GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CASE WHEN sx > 0 THEN
        |    (CAST(s2 AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) END AS gini
        |FROM m""".stripMargin,

    // shared tokens via the tf self-join; per-token pinned term
    // round(p*ln(p/m) + q*ln(q/m), 9) summed in decimal; exclusive
    // mass contributes ln2/2 per unit exactly
    "q221_jsd" ->
      """WITH tok AS (SELECT source AS s, unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents WHERE source IS NOT NULL),
        |tf AS (SELECT s, tok, CAST(count(*) AS BIGINT) AS c
        |       FROM tok GROUP BY 1, 2),
        |tot AS (SELECT s, CAST(sum(c) AS BIGINT) AS n FROM tf GROUP BY 1),
        |sh AS (SELECT a.s AS s1, b.s AS s2, a.c AS c1, b.c AS c2,
        |    t1.n AS n1, t2.n AS n2
        |  FROM tf a JOIN tf b ON a.tok = b.tok AND a.s < b.s
        |  JOIN tot t1 ON t1.s = a.s JOIN tot t2 ON t2.s = b.s),
        |term AS (SELECT s1, s2, c1, c2, n1, n2,
        |    round(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      * ln((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |        / ((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |           + CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / 2.0))
        |    + CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)
        |      * ln((CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |        / ((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |           + CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / 2.0)), 9)
        |      AS tm
        |  FROM sh),
        |agg AS (SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_shared_tokens,
        |    sum(CAST(tm AS DECIMAL(12,9))) AS ts,
        |    CAST(sum(c1) AS BIGINT) AS sh1, CAST(sum(c2) AS BIGINT) AS sh2,
        |    CAST(min(n1) AS BIGINT) AS n1, CAST(min(n2) AS BIGINT) AS n2
        |  FROM term GROUP BY 1, 2)
        |SELECT s1 AS slice1, s2 AS slice2, n_shared_tokens,
        |  CAST(ts AS DOUBLE) / 2.0 + 0.6931471805599453 / 2.0 *
        |    (CAST(n1 - sh1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |     + CAST(n2 - sh2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS jsd
        |FROM agg""".stripMargin,

    // the q204 pinned kernel + blocking, across two relations
    "q222_jw_linkage" ->
      """WITH l AS (SELECT p_partkey AS id, p_name AS s FROM part
        |  WHERE p_partkey % 2 = 0 AND p_name IS NOT NULL AND len(p_name) >= 1),
        |r AS (SELECT p_partkey AS id, p_name AS s FROM part
        |  WHERE p_partkey % 2 = 1 AND p_name IS NOT NULL AND len(p_name) >= 1)
        |SELECT l.id AS left_id, r.id AS right_id,
        |  jaro_winkler_similarity(l.s, r.s) AS sim
        |FROM l JOIN r ON substr(l.s, 1, 1) = substr(r.s, 1, 1)
        |  AND abs(len(l.s) - len(r.s)) <= 2
        |WHERE jaro_winkler_similarity(l.s, r.s) >= 0.94""".stripMargin,

    // replay the block-hash rule: block b corrupted iff
    // md5(id_b<b>_sc1) % 3 = 0; span = first 3 tokens of the block;
    // sentinel k = corrupted blocks before mine
    "q223_span_corrupt" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |z AS (SELECT doc_id, w,
        |    list_transform(range((len(w) + 9) // 10), b ->
        |      ('0x' || substr(md5(doc_id::VARCHAR || '_b' || b::VARCHAR
        |        || '_sc1'), 1, 8))::BIGINT % 3 = 0) AS hits
        |  FROM t),
        |z2 AS (SELECT doc_id, w, hits,
        |    list_transform(range(len(hits)), b -> CASE WHEN b = 0 THEN 0
        |      ELSE CAST(coalesce(list_sum(list_transform(range(b), bb ->
        |        CASE WHEN hits[bb + 1] THEN 1 ELSE 0 END)), 0) AS INT)
        |      END) AS pfx
        |  FROM z)
        |SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(range(len(w)), i ->
        |    hits[i // 10 + 1] AND i % 10 = 0)) AS BIGINT) AS n_spans,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(range(len(w)), i ->
        |      NOT (hits[i // 10 + 1] AND i % 10 < 3)
        |      OR (hits[i // 10 + 1] AND i % 10 = 0)),
        |    i -> CASE WHEN hits[i // 10 + 1] AND i % 10 = 0
        |      THEN '<extra_id_' || pfx[i // 10 + 1]::VARCHAR || '>'
        |      ELSE w[i + 1] END), ' '), '') AS corrupted_text,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(range(len(w)), i -> hits[i // 10 + 1] AND i % 10 < 3),
        |    i -> CASE WHEN hits[i // 10 + 1] AND i % 10 = 0
        |      THEN '<extra_id_' || pfx[i // 10 + 1]::VARCHAR || '> ' || w[i + 1]
        |      ELSE w[i + 1] END), ' '), '') AS targets
        |FROM z2""".stripMargin,

    // rank by (md5 draw, id) per stratum; thresholds floor(c_j * n)
    // with the LEFT-TO-RIGHT accumulated cumulative fractions
    // (0.7 + 0.2 = 0.8999999999999999 — replayed verbatim)
    "q224_exact_split" ->
      s"""WITH d AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5(doc_id::VARCHAR || 'sp1'), 1, 8))::BIGINT AS h
        |  FROM documents WHERE doc_id IS NOT NULL),
        |r AS (SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
        |      AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY lang) AS DOUBLE) AS n
        |  FROM d)
        |SELECT doc_id, lang,
        |  CASE WHEN rk <= floor(${0.7} * n) THEN 'train'
        |       WHEN rk <= floor(${0.7 + 0.2} * n) THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM r""".stripMargin,

    // exact contingency + marginals; per-cell pinned
    // round(p*ln(c*n/(m1*m2)), 9) and round-9 entropies summed in
    // decimal (the JSD discipline)
    "q225_mutual_info" ->
      """WITH base AS (SELECT CAST(lang AS VARCHAR) AS a,
        |    CAST(source AS VARCHAR) AS b
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL),
        |cont AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
        |         FROM base GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cont),
        |m1 AS (SELECT a, CAST(sum(c) AS BIGINT) AS c1 FROM cont GROUP BY 1),
        |m2 AS (SELECT b, CAST(sum(c) AS BIGINT) AS c2 FROM cont GROUP BY 1),
        |cells AS (SELECT c, c1, c2, n FROM cont
        |          JOIN m1 USING (a) JOIN m2 USING (b) CROSS JOIN tot),
        |mi AS (SELECT CAST(min(n) AS BIGINT) AS n,
        |    CAST(sum(CAST(round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
        |        / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 9)
        |      AS DECIMAL(12,9))) AS DOUBLE) AS mi
        |  FROM cells),
        |ha AS (SELECT CAST(sum(CAST(-round(
        |    (CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE)), 9)
        |    AS DECIMAL(12,9))) AS DOUBLE) AS h_a
        |  FROM m1 CROSS JOIN tot),
        |hb AS (SELECT CAST(sum(CAST(-round(
        |    (CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE)), 9)
        |    AS DECIMAL(12,9))) AS DOUBLE) AS h_b
        |  FROM m2 CROSS JOIN tot)
        |SELECT n, mi, h_a, h_b,
        |  CASE WHEN h_a > 0 AND h_b > 0
        |    THEN mi / (sqrt(h_a) * sqrt(h_b)) END AS nmi
        |FROM mi CROSS JOIN ha CROSS JOIN hb""".stripMargin,

    // rank by (x, event_id); pairs at rank+stride; discrete median
    // of the sampled slopes (rank ceil(n/2))
    "q226_theil_sen" ->
      """WITH b AS (SELECT event_type,
        |    CAST(epoch_ms(ts) // 1000 AS DECIMAL(18,0)) AS x,
        |    CAST(value AS DECIMAL(18,2)) AS y, event_id
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_id IS NOT NULL),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY x, event_id) AS BIGINT) AS rk FROM b),
        |p AS (SELECT l.event_type, l.x, l.y, rr.x AS x2, rr.y AS y2
        |  FROM (SELECT r.*, unnest([1, 2, 3, 5, 8, 13, 21]) AS s FROM r) l
        |  JOIN r rr ON rr.event_type = l.event_type
        |    AND rr.rk = l.rk + l.s
        |  WHERE rr.x <> l.x),
        |sl AS (SELECT event_type,
        |    CAST(y2 - y AS DOUBLE) / CAST(x2 - x AS DOUBLE) AS slope
        |  FROM p),
        |rk2 AS (SELECT event_type, slope,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY slope) AS BIGINT) AS r
        |  FROM sl)
        |SELECT event_type, n AS n_pairs, slope
        |FROM rk2
        |WHERE r * 2 = n + 1 OR (n % 2 = 0 AND r * 2 = n)""".stripMargin,

    // zero-inclusive dispersion: mean = T/N, E[x2] = sum(c^2)/N over
    // ALL documents
    "q227_burstiness" ->
      """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(
        |      coalesce(text, ''), '\s+'), x -> x <> '')) AS tok
        |    FROM documents)
        |  GROUP BY 1, 2),
        |pt AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(c) AS BIGINT) AS n_occurrences,
        |    CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM tf GROUP BY 1),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY n_occurrences DESC,
        |      token) AS BIGINT) AS "rank"
        |  FROM pt QUALIFY "rank" <= 100)
        |SELECT token, n_docs, n_occurrences,
        |  CASE WHEN CAST(n_occurrences AS DOUBLE) / CAST(nn AS DOUBLE) > 0
        |    THEN (CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)
        |      - (CAST(n_occurrences AS DOUBLE) / CAST(nn AS DOUBLE))
        |        * (CAST(n_occurrences AS DOUBLE) / CAST(nn AS DOUBLE)))
        |      / (CAST(n_occurrences AS DOUBLE) / CAST(nn AS DOUBLE)) END
        |    AS dispersion,
        |  "rank"
        |FROM r CROSS JOIN nd""".stripMargin,

    // all-pairs replay over the same distinct-shingle sets (hash-
    // agnostic: containment over injectively-hashed sets equals
    // containment over the string sets)
    "q228_containment" ->
      """WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS w
        |           FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS sh FROM w),
        |p AS (SELECT a.doc_id AS src_id, b.doc_id AS dst_id,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS overlap,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / CAST(len(a.sh) AS DOUBLE) AS containment
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |  WHERE len(a.sh) > 0)
        |SELECT src_id, dst_id, overlap, containment
        |FROM p WHERE containment >= 0.8""".stripMargin,

    // the q219 daily grid; five decimal frame sums on one ROWS
    // window; the pinned pearson closing per row
    "q232_rolling_corr" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |d AS (SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS t,
        |    CAST(x AS DECIMAL(18,0)) AS x, CAST(y AS DECIMAL(18,0)) AS y
        |  FROM daily),
        |m AS (SELECT t, x, y, CAST(count(*) OVER w AS BIGINT) AS n,
        |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        |    sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx,
        |    sum(y * y) OVER w AS syy
        |  FROM d
        |  WINDOW w AS (ORDER BY t ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |c AS (SELECT t, x, y, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd FROM m),
        |v AS (SELECT *, nd * sxxd - sxd * sxd AS vx,
        |    nd * syyd - syd * syd AS vy, nd * sxyd - sxd * syd AS cov
        |  FROM c)
        |SELECT t, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
        |  CASE WHEN n = 7 AND vx > 0 AND vy > 0
        |    THEN cov / (sqrt(vx) * sqrt(vy)) END AS corr
        |FROM v""".stripMargin,

    // exact arm/hit counts; the pooled-variance pinned chain
    "q233_two_prop_z" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
        |    value >= 50 AS hit
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |m AS (SELECT event_type,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 'a' AND hit THEN 1 ELSE 0 END) AS BIGINT) AS ha,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 'b' AND hit THEN 1 ELSE 0 END) AS BIGINT) AS hb
        |  FROM e GROUP BY 1),
        |d AS (SELECT event_type, n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(ha AS DOUBLE) AS had, CAST(hb AS DOUBLE) AS hbd FROM m),
        |v AS (SELECT *, had / na AS pa, hbd / nb AS pb,
        |    (had + hbd) / (na + nb) AS pp FROM d),
        |s2 AS (SELECT *, pp * (1.0 - pp) * (1.0 / na + 1.0 / nb) AS se2
        |       FROM v)
        |SELECT event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 THEN pa END AS p_a,
        |  CASE WHEN n_b >= 1 THEN pb END AS p_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND se2 > 0.0
        |    THEN (pa - pb) / sqrt(se2) END AS z
        |FROM s2""".stripMargin,

    // the q152 triangle replay + degrees; 2T/(d(d-1)), null below
    // degree 2
    "q234_clustering_coeff" ->
      """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gs AS (SELECT g, i FROM (SELECT g, i, count(*) OVER (PARTITION BY g) AS sz
        |       FROM gi) WHERE sz <= 8),
        |e AS (SELECT DISTINCT x.i AS u, y.i AS v FROM gs x
        |      JOIN gs y ON x.g = y.g AND x.i < y.i),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b,
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS rd
        |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
        |w AS (SELECT e1.a AS w0, e1.b AS w1, e2.b AS w2 FROM o e1 JOIN o e2
        |      ON e1.a = e2.a AND (e1.rd, e1.b) < (e2.rd, e2.b)),
        |tr AS (SELECT w0, w1, w2 FROM w JOIN o ON o.a = w.w1 AND o.b = w.w2),
        |tc AS (SELECT vertex, CAST(count(*) AS BIGINT) AS n_triangles FROM
        |  (SELECT w0 AS vertex FROM tr UNION ALL SELECT w1 FROM tr
        |   UNION ALL SELECT w2 FROM tr)
        |  GROUP BY 1)
        |SELECT deg.n AS vertex, deg.d AS degree,
        |  coalesce(n_triangles, 0) AS n_triangles,
        |  CASE WHEN deg.d >= 2 THEN 2.0 * CAST(coalesce(n_triangles, 0) AS DOUBLE)
        |    / (CAST(deg.d AS DOUBLE) * (CAST(deg.d AS DOUBLE) - 1.0)) END
        |    AS clustering_coeff
        |FROM deg LEFT JOIN tc ON tc.vertex = deg.n""".stripMargin,

    // the sweep replayed: running max of interval ends over the
    // (start, end)-ordered preceding rows clips every overlap
    "q235_interval_coverage" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 1800000000 AS e
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |sw AS (SELECT user_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bef
        |  FROM iv WHERE e > s),
        |c AS (SELECT user_id,
        |    greatest(0, e - greatest(s, coalesce(bef, s))) AS cov,
        |    CASE WHEN bef IS NULL OR s > bef THEN 1 ELSE 0 END AS nseg
        |  FROM sw)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(sum(cov) AS BIGINT) AS covered_micros,
        |  CAST(sum(nseg) AS BIGINT) AS n_segments
        |FROM c GROUP BY 1""".stripMargin,

    // the q178 recipe with the tolerance folded in: every purchase
    // keeps its row; matches older than 30 min null out
    "q236_asof_within" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |p AS (SELECT user_id, t, event_id FROM e
        |      WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, t, event_id, event_type FROM
        |  (SELECT *, row_number() OVER (PARTITION BY user_id, t
        |     ORDER BY event_id DESC) AS r
        |   FROM e WHERE event_type <> 'purchase') WHERE r = 1),
        |m AS (SELECT p.user_id, p.event_id, p.t, tch.event_id AS tid,
        |    tch.event_type AS ttype, tch.t AS tt,
        |    row_number() OVER (PARTITION BY p.user_id, p.event_id
        |      ORDER BY tch.t DESC) AS r
        |  FROM p JOIN tch ON tch.user_id = p.user_id AND tch.t <= p.t)
        |SELECT p.event_id, p.user_id,
        |  CASE WHEN m.tt IS NOT NULL AND p.t - m.tt <= 1800000000
        |    THEN m.tid END AS asof_touch_event_id,
        |  CASE WHEN m.tt IS NOT NULL AND p.t - m.tt <= 1800000000
        |    THEN m.ttype END AS asof_touch_type
        |FROM p LEFT JOIN (SELECT * FROM m WHERE r = 1) m
        |  ON m.event_id = p.event_id""".stripMargin,

    // MG candidate membership beyond the guarantee is arrival-order
    // dependent; hash-gated: coverage, the recall contract, the
    // state-size bound — all engine-independent
    "q237_stream_heavy_hitters" ->
      """SELECT 'all' AS key, CAST(count(*) AS BIGINT) AS n_seen,
        |  TRUE AS complete, TRUE AS recall_ok, TRUE AS size_ok
        |FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL""".stripMargin,

    // the positional roundtrip must reproduce the source table exactly
    "q238_fixed_width" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation""".stripMargin,

    // same pooled-grid CDFs; the D numerator is the exact integer
    // max |cumA·n_b − cumB·n_a|, the one division pinned
    "q239_ks_test" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |g AS (SELECT event_type, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT event_type,
        |    CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cuma,
        |    CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cumb,
        |    CAST(sum(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
        |    CAST(sum(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
        |  FROM g),
        |m AS (SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
        |    max(abs(cuma * nb - cumb * na)) AS d_num
        |  FROM c GROUP BY 1)
        |SELECT event_type, n_a, n_b, d_num, n_a * n_b AS d_den,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN CAST(d_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) END AS d
        |FROM m""".stripMargin,

    // the textbook O(n²) concordance sweep the engine's O(n log n)
    // mergesort must reproduce exactly: per unordered pair, x-tie /
    // y-tie / both / strict-discordant counts on the cent grid
    "q240_kendall_tau" ->
      """WITH b AS (SELECT l_returnflag,
        |    CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
        |    row_number() OVER () AS rid
        |  FROM lineitem WHERE l_shipdate IS NOT NULL
        |    AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |grp AS (SELECT l_returnflag, ship_month, CAST(count(*) AS BIGINT) AS n
        |        FROM b GROUP BY 1, 2),
        |ps AS (SELECT t1.l_returnflag, t1.ship_month,
        |    CAST(sum(CASE WHEN t1.x = t2.x THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN t1.y = t2.y THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN t1.x = t2.x AND t1.y = t2.y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN (t1.x - t2.x) * (t1.y - t2.y) < 0 THEN 1
        |      ELSE 0 END) AS BIGINT) AS disc
        |  FROM b t1 JOIN b t2 ON t2.l_returnflag = t1.l_returnflag
        |    AND t2.ship_month = t1.ship_month AND t1.rid < t2.rid
        |  GROUP BY 1, 2),
        |j AS (SELECT g.l_returnflag, g.ship_month, g.n,
        |    n * (n - 1) / 2 AS n0,
        |    coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2,
        |    coalesce(n3, 0) AS n3, coalesce(disc, 0) AS disc
        |  FROM grp g LEFT JOIN ps ON ps.l_returnflag = g.l_returnflag
        |    AND ps.ship_month = g.ship_month),
        |s AS (SELECT *, n0 - n1 - n2 + n3 - 2 * disc AS st FROM j)
        |SELECT l_returnflag, ship_month, n, CAST(n0 AS BIGINT) AS n0,
        |  n1, n2, n3, disc AS discordant, CAST(st AS BIGINT) AS s,
        |  CASE WHEN n0 - n1 > 0 AND n0 - n2 > 0
        |    THEN CAST(st AS DOUBLE) /
        |      sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))
        |  END AS tau_b
        |FROM s""".stripMargin,

    // FIFO as cumulative-interval intersection: both ledgers'
    // windows, the overlap join, all integer cents
    "q241_fifo_match" ->
      """WITH e AS (SELECT user_id, event_type, event_id, ts,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS q
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND ts IS NOT NULL),
        |l AS (SELECT user_id, event_id AS lot_id, q,
        |    CAST(sum(q) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS BIGINT) AS lhi
        |  FROM e WHERE event_type = 'click' AND q > 0),
        |l2 AS (SELECT user_id, lot_id, lhi, lhi - q AS llo FROM l),
        |d AS (SELECT user_id, event_id AS demand_id, q,
        |    CAST(sum(q) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS BIGINT) AS dhi
        |  FROM e WHERE event_type = 'purchase' AND q > 0),
        |d2 AS (SELECT user_id, demand_id, dhi, dhi - q AS dlo FROM d)
        |SELECT l2.user_id, lot_id, demand_id,
        |  CAST(least(lhi, dhi) - greatest(llo, dlo) AS BIGINT) AS matched
        |FROM l2 JOIN d2 ON d2.user_id = l2.user_id
        |WHERE llo < dhi AND dlo < lhi""".stripMargin,

    // the 7-day lookback join; hits rank first so rank 1 is the
    // earliest/latest hit; touchless purchases keep their
    // reconciliation row
    "q242_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |    epoch_us(ts) AS t
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT user_id, event_id AS conv_id, value AS conv_value,
        |    t AS ct FROM e WHERE event_type = 'purchase'
        |    AND value IS NOT NULL),
        |tt AS (SELECT user_id, event_id AS touch_id, t AS tch
        |  FROM e WHERE event_type = 'click'),
        |j AS (SELECT c.user_id, conv_id, conv_value, touch_id, tch,
        |    (tch IS NOT NULL AND tch < ct AND tch >= ct - 604800000000)
        |      AS hit
        |  FROM c LEFT JOIN tt ON tt.user_id = c.user_id),
        |w AS (SELECT *,
        |    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY conv_id) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY conv_id ORDER BY hit DESC,
        |      tch ASC NULLS LAST, touch_id ASC NULLS LAST) AS rka,
        |    row_number() OVER (PARTITION BY conv_id ORDER BY hit DESC,
        |      tch DESC NULLS LAST, touch_id DESC NULLS LAST) AS rkd
        |  FROM j)
        |SELECT user_id, conv_id, conv_value,
        |  CASE WHEN hit THEN touch_id END AS touch_id,
        |  n AS n_touch,
        |  CASE WHEN hit THEN rka = 1 END AS is_first,
        |  CASE WHEN hit THEN rkd = 1 END AS is_last,
        |  CASE WHEN hit THEN CAST(1 AS DOUBLE) / CAST(n AS DOUBLE) END
        |    AS w_linear
        |FROM w WHERE hit OR (n = 0 AND rka = 1)""".stripMargin,

    // integer-numerator decomposition: dt_p = 7v − Σ₇v exactly, the
    // phase mean and trend each ONE pinned division
    "q243_seasonal" ->
      """WITH daily AS (SELECT
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'signup'
        |  GROUP BY 1),
        |w AS (SELECT t, v, CAST(count(*) OVER win AS BIGINT) AS wn,
        |    CAST(sum(v) OVER win AS BIGINT) AS ws
        |  FROM daily WINDOW win AS (ORDER BY t
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |d AS (SELECT *, CASE WHEN wn = 7 THEN 7 * v - ws END AS dtp,
        |    t % 7 AS phase FROM w),
        |p AS (SELECT *,
        |    CAST(sum(dtp) OVER (PARTITION BY phase) AS BIGINT) AS ps,
        |    CAST(count(dtp) OVER (PARTITION BY phase) AS BIGINT) AS pc
        |  FROM d)
        |SELECT t, v,
        |  CASE WHEN wn = 7
        |    THEN CAST(ws AS DOUBLE) / CAST(7 AS DOUBLE) END AS trend,
        |  CASE WHEN wn = 7 THEN CAST(ps AS DOUBLE) /
        |    (CAST(7 AS DOUBLE) * CAST(pc AS DOUBLE)) END AS seasonal,
        |  CASE WHEN wn = 7 THEN CAST(dtp AS DOUBLE) / CAST(7 AS DOUBLE) -
        |    CAST(ps AS DOUBLE) / (CAST(7 AS DOUBLE) * CAST(pc AS DOUBLE))
        |  END AS remainder
        |FROM p""".stripMargin,

    // exact integer frame moments; mean/sd/bands/breaches one pinned
    // IEEE chain, warmup null
    "q244_bollinger" ->
      """WITH daily AS (SELECT
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'view'
        |  GROUP BY 1),
        |m AS (SELECT t, v, CAST(count(*) OVER w AS BIGINT) AS n,
        |    CAST(sum(v) OVER w AS BIGINT) AS s,
        |    CAST(sum(v * v) OVER w AS BIGINT) AS ss
        |  FROM daily WINDOW w AS (ORDER BY t
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |c AS (SELECT t, v, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(s AS DOUBLE) AS sd0, CAST(ss AS DOUBLE) AS ssd,
        |    CAST(v AS DOUBLE) AS vd FROM m),
        |x AS (SELECT *, sd0 / nd AS mean,
        |    (nd * ssd - sd0 * sd0) / (nd * (nd - CAST(1 AS DOUBLE))) AS vr
        |  FROM c),
        |y AS (SELECT *, sqrt(vr) AS sdev,
        |    mean + CAST(2 AS DOUBLE) * sqrt(vr) AS hi,
        |    mean - CAST(2 AS DOUBLE) * sqrt(vr) AS lo FROM x)
        |SELECT t, v,
        |  CASE WHEN n = 7 THEN mean END AS mean,
        |  CASE WHEN n = 7 THEN sdev END AS sd,
        |  CASE WHEN n = 7 THEN hi END AS upper,
        |  CASE WHEN n = 7 THEN lo END AS lower,
        |  CASE WHEN n = 7 THEN vd > hi END AS breach_hi,
        |  CASE WHEN n = 7 THEN vd < lo END AS breach_lo
        |FROM y""".stripMargin,

    // identical explicit ASCII classes (engine-agnostic regex), counts
    // by removal, fractions one pinned division each
    "q245_script_profile" ->
      """WITH b AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS len,
        |  CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))
        |    AS BIGINT) AS n_alpha,
        |  CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g'))
        |    AS BIGINT) AS n_digit,
        |  CAST(length(t) - length(regexp_replace(t, '[ \t\n\r]', '', 'g'))
        |    AS BIGINT) AS n_space,
        |  CAST(length(t) - length(regexp_replace(t, '[!-/:-@\[-`{-~]', '', 'g'))
        |    AS BIGINT) AS n_punct
        | FROM b),
        |d AS (SELECT *, len - n_alpha - n_digit - n_space - n_punct
        |    AS n_other FROM c)
        |SELECT doc_id, len, n_alpha, n_digit, n_space, n_punct,
        |  CAST(n_other AS BIGINT) AS n_other,
        |  CASE WHEN len > 0 THEN CAST(n_alpha AS DOUBLE) / CAST(len AS DOUBLE) END AS frac_alpha,
        |  CASE WHEN len > 0 THEN CAST(n_digit AS DOUBLE) / CAST(len AS DOUBLE) END AS frac_digit,
        |  CASE WHEN len > 0 THEN CAST(n_space AS DOUBLE) / CAST(len AS DOUBLE) END AS frac_space,
        |  CASE WHEN len > 0 THEN CAST(n_punct AS DOUBLE) / CAST(len AS DOUBLE) END AS frac_punct,
        |  CASE WHEN len > 0 THEN CAST(n_other AS DOUBLE) / CAST(len AS DOUBLE) END AS frac_other
        |FROM d""".stripMargin,

    // the q216 tokenization + log discipline over the cumulative
    // (tokens, first-occurrence vocabulary) curve
    "q246_heaps_law" ->
      """WITH tok AS (SELECT source, doc_id, unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents WHERE source IS NOT NULL),
        |pd AS (SELECT source, doc_id, CAST(count(*) AS BIGINT) AS nt
        |       FROM tok GROUP BY 1, 2),
        |fo AS (SELECT source, tok, min(doc_id) AS doc_id
        |       FROM tok GROUP BY 1, 2),
        |fv AS (SELECT source, doc_id, CAST(count(*) AS BIGINT) AS nv
        |       FROM fo GROUP BY 1, 2),
        |cur AS (SELECT pd.source, pd.doc_id,
        |    CAST(sum(nt) OVER (PARTITION BY pd.source ORDER BY pd.doc_id)
        |      AS BIGINT) AS cumn,
        |    CAST(sum(coalesce(nv, 0)) OVER (PARTITION BY pd.source
        |      ORDER BY pd.doc_id) AS BIGINT) AS cumv
        |  FROM pd LEFT JOIN fv ON fv.source = pd.source
        |    AND fv.doc_id = pd.doc_id),
        |xy AS (SELECT source,
        |    CAST(round(ln(CAST(cumn AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
        |    CAST(round(ln(CAST(cumv AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
        |  FROM cur WHERE cumn > 0 AND cumv > 0),
        |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_points,
        |    sum(x) AS sx0, sum(y) AS sy0, sum(x * y) AS sxy0,
        |    sum(x * x) AS sxx0, sum(y * y) AS syy0
        |  FROM xy GROUP BY 1),
        |d AS (SELECT source, n_points, CAST(n_points AS DOUBLE) AS nd,
        |    CAST(CAST(sx0 - (sx0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sx,
        |    CAST(CAST(sy0 - (sy0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sy,
        |    CAST(CAST(sxy0 - (sxy0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sxy,
        |    CAST(CAST(sxx0 - (sxx0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sxx,
        |    CAST(CAST(syy0 - (syy0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS syy
        |  FROM m),
        |v AS (SELECT *, nd * sxx - sx * sx AS vx, nd * syy - sy * sy AS vy,
        |    nd * sxy - sx * sy AS cov FROM d)
        |SELECT source, n_points,
        |  CASE WHEN n_points >= 2 AND vx > 0 THEN cov / vx END AS beta,
        |  CASE WHEN n_points >= 2 AND vx > 0
        |    THEN (sy - (cov / vx) * sx) / nd END AS ln_k,
        |  CASE WHEN n_points >= 2 AND vx > 0 AND vy > 0
        |    THEN cov / (sqrt(vx) * sqrt(vy)) END AS corr
        |FROM v""".stripMargin,

    // same all-integer chunk geometry: stride 48, ⌈(n−16)/48⌉ chunks
    // (≥1), inclusive 1-based list_slice clamped at n
    "q247_chunking" ->
      """WITH b AS (SELECT doc_id, list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM b
        |      WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n,
        |    unnest(generate_series(0, greatest(1, (n - 17) // 48 + 1) - 1))
        |      AS chunk_id
        |  FROM n)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 48 AS BIGINT) AS token_start,
        |  CAST(least(64, n - chunk_id * 48) AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(toks, chunk_id * 48 + 1,
        |    chunk_id * 48 + 64), ' ') AS chunk_text
        |FROM c""".stripMargin,

    // tidy long form: UNION ALL per measure (UNPIVOT INCLUDE NULLS
    // semantics — a melted null is a fact)
    "q248_melt" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable,
        |  CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |  CAST(l_extendedprice AS DOUBLE) FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
        |  CAST(l_discount AS DOUBLE) FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax',
        |  CAST(l_tax AS DOUBLE) FROM lineitem""".stripMargin,

    // the iterative peel as a recursive CTE over the SYMMETRIC edge
    // set (both-position window counts are then true degrees); the
    // k-core is unique so the engine's driver loop must land on the
    // same set; final guard returns empty if unconverged at the bound
    "q249_kcore" ->
      """WITH RECURSIVE gi AS (SELECT DISTINCT l_orderkey AS g,
        |    l_partkey AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gs AS (SELECT g, i FROM (SELECT g, i,
        |    count(*) OVER (PARTITION BY g) AS sz FROM gi) WHERE sz <= 8),
        |e AS (SELECT DISTINCT least(a.i, b.i) AS u, greatest(a.i, b.i) AS v
        |      FROM gs a JOIN gs b ON a.g = b.g AND a.i < b.i),
        |sym AS (SELECT u AS n, m FROM (SELECT u, v AS m FROM e
        |        UNION ALL SELECT v, u FROM e) s(u, m)),
        |degs AS (SELECT n, count(*) AS d FROM sym GROUP BY 1),
        |kv AS (SELECT CAST(min(d) + 1 AS BIGINT) AS k FROM degs),
        |peel(iter, n, m) AS (
        |  SELECT 0, n, m FROM sym
        |  UNION ALL
        |  SELECT iter + 1, n, m FROM (
        |    SELECT iter, n, m, cn, cm,
        |      max(CASE WHEN cn < (SELECT k FROM kv)
        |          OR cm < (SELECT k FROM kv) THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY iter) AS anyviol
        |    FROM (SELECT iter, n, m,
        |        count(*) OVER (PARTITION BY iter, n) AS cn,
        |        count(*) OVER (PARTITION BY iter, m) AS cm
        |      FROM peel) s1
        |  ) s2 WHERE iter < 50 AND anyviol = 1
        |    AND cn >= (SELECT k FROM kv) AND cm >= (SELECT k FROM kv)
        |),
        |last AS (SELECT n, m FROM peel
        |         WHERE iter = (SELECT max(iter) FROM peel)),
        |chk AS (SELECT n, count(*) AS d FROM last GROUP BY 1),
        |ok AS (SELECT CASE WHEN min(d) >= (SELECT k FROM kv)
        |       THEN 1 ELSE 0 END AS conv FROM chk)
        |SELECT CAST(n AS BIGINT) AS vertex, CAST(d AS BIGINT) AS degree
        |FROM chk WHERE (SELECT conv FROM ok) = 1""".stripMargin,

    // the stream's accumulated histogram must equal the exact batch
    // histogram (state exactness — the q184 contract pattern, but the
    // claim is the full per-bin count vector, zero bins included)
    "q250_stream_drift" ->
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
        |SELECT n.key, n_seen, bin, cnt FROM c JOIN n ON n.key = c.key""".stripMargin,

    // same md5-prefix hash convention (q213), mod 64, exact counts
    "q251_feature_hashing" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS BIGINT)
        |    AS bucket,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM tok GROUP BY 1, 2""".stripMargin,

    // majority pick with the (count DESC, value ASC) total order; the
    // dependent compares as VARCHAR on both engines
    "q252_fd_profile" ->
      """WITH g AS (SELECT l_partkey, CAST(l_suppkey AS VARCHAR) AS dep,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_partkey
        |    ORDER BY c DESC, dep ASC NULLS LAST) AS rk FROM g)
        |SELECT l_partkey, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_distinct_dep,
        |  max(CASE WHEN rk = 1 THEN dep END) AS majority_dep,
        |  CAST(max(CASE WHEN rk = 1 THEN c END) AS BIGINT)
        |    AS majority_support,
        |  CAST(sum(c) - max(CASE WHEN rk = 1 THEN c END) AS BIGINT)
        |    AS n_violations
        |FROM r GROUP BY 1""".stripMargin,

    // the u/2^32 probability is an exact double; Σ round(p,9) decimal,
    // pinned closings
    "q253_calibration" ->
      """WITH e AS (SELECT event_type,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'cal'),
        |      1, 8))::BIGINT AS DOUBLE) / CAST(4294967296 AS DOUBLE) AS p,
        |    value >= 50 AS y
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type,
        |    least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
        |    CAST(round(p, 9) AS DECIMAL(18,9)) AS p9,
        |    CASE WHEN y THEN 1 ELSE 0 END AS pos
        |  FROM e WHERE p >= 0 AND p <= 1),
        |m AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n,
        |    sum(p9) AS sp, CAST(sum(pos) AS BIGINT) AS pos
        |  FROM b GROUP BY 1, 2)
        |SELECT event_type, bin, n,
        |  CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) AS mean_p,
        |  CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
        |  CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) -
        |    CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) AS gap
        |FROM m""".stripMargin,

    // exact decimal residual squares; the sum snapped to the 1e-6
    // grid before its ONE double cast (the t6 discipline)
    "q254_brier" ->
      """WITH e AS (SELECT event_type,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'cal'),
        |      1, 8))::BIGINT AS DOUBLE) / CAST(4294967296 AS DOUBLE) AS p,
        |    value >= 50 AS y
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type,
        |    CAST(round(p, 9) AS DECIMAL(18,9)) -
        |      CAST(CASE WHEN y THEN 1 ELSE 0 END AS DECIMAL(18,9)) AS d
        |  FROM e WHERE p >= 0 AND p <= 1),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(d * d AS DECIMAL(38,18))) AS ss
        |  FROM b GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN n > 0 THEN
        |    CAST(CAST(ss - (ss % 0.000001) AS DECIMAL(38,6)) AS DOUBLE)
        |      / CAST(n AS DOUBLE) END AS brier
        |FROM m""".stripMargin,

    // the union+window nearest pick replayed: backward = last right
    // at-or-before, forward = first right strictly after, ties
    // backward
    "q255_asof_nearest" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |v AS (SELECT user_id, event_id, t, 1 AS side,
        |    CAST(NULL AS BIGINT) AS rid FROM e WHERE event_type = 'view'),
        |c AS (SELECT user_id, CAST(NULL AS BIGINT) AS event_id, t, 0 AS side,
        |    event_id AS rid FROM e WHERE event_type = 'click'),
        |u AS (SELECT * FROM v UNION ALL SELECT * FROM c),
        |w AS (SELECT *,
        |    last_value(rid IGNORE NULLS) OVER wb AS bid,
        |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
        |      OVER wb AS bt,
        |    first_value(rid IGNORE NULLS) OVER wf AS fid,
        |    first_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
        |      OVER wf AS ft
        |  FROM u
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY t, side, rid
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY user_id ORDER BY t, side, rid
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |p AS (SELECT *, (bid IS NOT NULL AND
        |    (fid IS NULL OR t - bt <= ft - t)) AS pickb FROM w)
        |SELECT event_id, user_id,
        |  CASE WHEN pickb THEN bid ELSE fid END AS asof_event_id,
        |  CAST(CASE WHEN pickb THEN t - bt
        |    WHEN fid IS NOT NULL THEN ft - t END AS BIGINT) AS asof_gap
        |FROM p WHERE side = 1""".stripMargin,

    // exact decimal label sums on the 1e-9 grid; prior/shrinkage one
    // pinned chain; non-encodable rows pass through null
    "q256_target_encode" ->
      """WITH b AS (SELECT *, CAST(round(value, 9) AS DECIMAL(18,9)) AS y,
        |    (event_type IS NOT NULL AND value IS NOT NULL) AS ok
        |  FROM events),
        |g AS (SELECT sum(CASE WHEN ok THEN y END) AS gs,
        |    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS gn
        |  FROM b),
        |grid AS (SELECT event_type AS cat, sum(y) AS cs,
        |    CAST(count(*) AS BIGINT) AS cn FROM b WHERE ok GROUP BY 1)
        |SELECT event_id, ts, user_id, event_type, value, props,
        |  CASE WHEN ok THEN
        |    (CAST(cs AS DOUBLE) + CAST(20 AS DOUBLE) *
        |      (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE))) /
        |    (CAST(cn AS DOUBLE) + CAST(20 AS DOUBLE)) END AS encoded
        |FROM b LEFT JOIN grid ON grid.cat = b.event_type
        |CROSS JOIN g""".stripMargin,

    // same grid, each row's own label excluded from its category sum
    "q257_target_encode_loo" ->
      """WITH b AS (SELECT *, CAST(round(value, 9) AS DECIMAL(18,9)) AS y,
        |    (event_type IS NOT NULL AND value IS NOT NULL) AS ok
        |  FROM events),
        |g AS (SELECT sum(CASE WHEN ok THEN y END) AS gs,
        |    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS gn
        |  FROM b),
        |w AS (SELECT *,
        |    sum(CASE WHEN ok THEN y END)
        |      OVER (PARTITION BY CASE WHEN ok THEN event_type END) AS cs,
        |    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY CASE WHEN ok THEN event_type END)
        |      AS BIGINT) AS cn
        |  FROM b)
        |SELECT event_id, ts, user_id, event_type, value, props,
        |  CASE WHEN ok AND CAST(cn - 1 AS DOUBLE) + CAST(20 AS DOUBLE) > 0
        |    THEN (CAST(cs - y AS DOUBLE) + CAST(20 AS DOUBLE) *
        |      (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE))) /
        |    (CAST(cn - 1 AS DOUBLE) + CAST(20 AS DOUBLE)) END AS encoded
        |FROM w CROSS JOIN g""".stripMargin,

    // (frequency DESC, value ASC) is a total order: same corpus, same
    // index, any engine
    "q258_index_encode" ->
      """WITH grid AS (SELECT lang AS cat, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |r AS (SELECT cat, CAST(row_number() OVER (ORDER BY n DESC, cat ASC)
        |    - 1 AS BIGINT) AS idx FROM grid)
        |SELECT doc_id, text, lang, source, n_chars, idx AS encoded
        |FROM documents LEFT JOIN r ON r.cat = documents.lang""".stripMargin,

    // open/close by the (ts, event_id) total order; exact decimal
    // Σv and Σp·v; pinned vwap division
    "q259_ohlc" ->
      """WITH e AS (SELECT event_type, ts, event_id,
        |    CAST(value AS DECIMAL(18,2)) AS p,
        |    CAST(CAST(user_id % 5 + 1 AS DOUBLE) AS DECIMAL(18,2)) AS v,
        |    date_trunc('day', ts) AS bucket
        |  FROM events WHERE value > 0 AND user_id IS NOT NULL
        |    AND ts IS NOT NULL),
        |w AS (SELECT *,
        |    first_value(p) OVER win AS op, last_value(p) OVER win AS cl
        |  FROM e WINDOW win AS (PARTITION BY event_type, bucket
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |m AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
        |    CAST(max(op) AS DOUBLE) AS open, CAST(max(p) AS DOUBLE) AS high,
        |    CAST(min(p) AS DOUBLE) AS low, CAST(max(cl) AS DOUBLE) AS close,
        |    sum(v) AS vol, sum(CAST(p * v AS DECIMAL(38,4))) AS pv
        |  FROM w GROUP BY 1, 2)
        |SELECT event_type, bucket, n, open, high, low, close,
        |  CAST(vol AS DOUBLE) AS volume,
        |  CASE WHEN vol > 0 THEN CAST(pv AS DOUBLE) / CAST(vol AS DOUBLE)
        |  END AS vwap
        |FROM m""".stripMargin,

    // merged half-states must equal the from-scratch aggregate — the
    // mergeability contract, checked end to end
    "q260_incremental_agg" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_l_quantity,
        |  CAST(min(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS min_l_quantity,
        |  CAST(max(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS max_l_quantity,
        |  CASE WHEN count(*) > 0 THEN
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) END AS avg_l_quantity,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_l_extendedprice,
        |  CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS min_l_extendedprice,
        |  CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS max_l_extendedprice,
        |  CASE WHEN count(*) > 0 THEN
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) END AS avg_l_extendedprice
        |FROM lineitem GROUP BY 1""".stripMargin,

    // the textbook O(n²) distance sweep the engine's grid join must
    // reproduce exactly — all-integer coordinates and d²
    "q261_radius_join" ->
      """WITH p AS (SELECT c_custkey,
        |    ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 8))
        |      ::BIGINT % 1000000 AS x,
        |    ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 8))
        |      ::BIGINT % 1000000 AS y
        |  FROM customer)
        |SELECT a.c_custkey AS src_id, b.c_custkey AS dst_id,
        |  CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |    AS BIGINT) AS d2
        |FROM p a JOIN p b ON a.c_custkey < b.c_custkey
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |  <= 625000000""".stripMargin,

    // the oracle IS the target snapshot: apply ∘ changes = identity
    "q262_cdc_apply" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0
        |    ELSE c_acctbal END AS c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 11 <> 0
        |UNION ALL
        |SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal,
        |  c_mktsegment
        |FROM customer WHERE c_custkey % 13 = 0""".stripMargin,

    // the observed counters must equal the direct aggregation
    "q263_observe" ->
      """SELECT CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_null,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin,

    // same exact u, 9-digit ln, pinned Laplace closing (b = 2 at
    // epsilon 0.5)
    "q264_dp_counts" ->
      """WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |x AS (SELECT *,
        |    CAST(('0x' || substr(md5(coalesce(CAST(event_type AS VARCHAR),
        |      chr(1)) || 'dp1'), 1, 8))::BIGINT AS DOUBLE) /
        |      CAST(4294967296 AS DOUBLE) AS u
        |  FROM m),
        |y AS (SELECT event_type, n, u,
        |    greatest(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) * abs(u - 0.5),
        |      0.000000000001) AS arg,
        |    CASE WHEN u - 0.5 >= 0 THEN CAST(1 AS DOUBLE)
        |      ELSE CAST(-1 AS DOUBLE) END AS sgn
        |  FROM x)
        |SELECT event_type, n,
        |  CAST(n AS DOUBLE) +
        |    CAST(-2 AS DOUBLE) * sgn * round(ln(arg), 9) AS n_noisy
        |FROM y""".stripMargin,

    // same mask order (hex before digits); the digit masking erases
    // any engine float-formatting differences by construction
    "q265_log_templates" ->
      """WITH e AS (SELECT event_id,
        |    event_type || ' user=' || CAST(user_id AS VARCHAR) ||
        |    ' val=' || CAST(value AS VARCHAR) || ' ' ||
        |    coalesce(props, '{}') AS msg
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL)
        |SELECT regexp_replace(regexp_replace(msg, '[0-9a-f]{8,}', '<H>',
        |    'g'), '[0-9]+', '<N>', 'g') AS template,
        |  CAST(count(*) AS BIGINT) AS n_messages,
        |  CAST(min(event_id) AS BIGINT) AS example_id
        |FROM e GROUP BY 1""".stripMargin,

    // the whole pipeline replayed: the q245 alpha counts, token-count
    // bounds, min-doc-id exact dedup, the q247 chunk geometry
    "q266_pipeline_e2e" ->
      """WITH prof AS (SELECT doc_id, text,
        |    CAST(length(coalesce(text, '')) AS BIGINT) AS len,
        |    CAST(length(coalesce(text, '')) -
        |      length(regexp_replace(coalesce(text, ''), '[A-Za-z]', '', 'g'))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_words
        |  FROM documents),
        |kept AS (SELECT doc_id, text FROM prof
        |  WHERE n_words >= 20 AND n_words <= 2000 AND len > 0
        |    AND n_alpha * 2 > len),
        |dedup AS (SELECT text, min(doc_id) AS doc_id FROM kept GROUP BY 1),
        |tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |    x -> x <> '') AS toks FROM dedup),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM tok
        |      WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n,
        |    unnest(generate_series(0, greatest(1, (n - 17) // 48 + 1) - 1))
        |      AS chunk_id
        |  FROM n)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 48 AS BIGINT) AS token_start,
        |  CAST(least(64, n - chunk_id * 48) AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(toks, chunk_id * 48 + 1,
        |    chunk_id * 48 + 64), ' ') AS chunk_text
        |FROM c""".stripMargin,

    // five exact decimal moments, integer-snapped before the one
    // double cast (2^53-units rule), pinned delta-method chain
    "q267_ratio_metric" ->
      """WITH m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
        |      CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,6)))
        |      AS sxy0,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
        |      CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,6))) AS sxx0,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,6)))
        |      AS syy0
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND l_quantity IS NOT NULL GROUP BY 1),
        |c AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(CAST(sxy0 - (sxy0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS sxy,
        |    CAST(CAST(sxx0 - (sxx0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS sxx,
        |    CAST(CAST(syy0 - (syy0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS syy
        |  FROM m),
        |v AS (SELECT *, syd / sxd AS r FROM c),
        |z AS (SELECT *, greatest(syy - CAST(2 AS DOUBLE) * r * sxy +
        |      r * r * sxx, CAST(0 AS DOUBLE)) AS rss FROM v),
        |s AS (SELECT *, sqrt(nd / (nd - CAST(1 AS DOUBLE)) * rss) / sxd
        |      AS se FROM z)
        |SELECT l_returnflag, n, syd AS sum_num, sxd AS sum_den,
        |  CASE WHEN sxd > 0 THEN r END AS ratio,
        |  CASE WHEN n >= 2 AND sxd > 0 THEN se END AS se,
        |  CASE WHEN n >= 2 AND sxd > 0 THEN r - 1.96 * se END AS ci_lo,
        |  CASE WHEN n >= 2 AND sxd > 0 THEN r + 1.96 * se END AS ci_hi
        |FROM s""".stripMargin,

    // the exact lower weighted median: first value where 2·cumW ≥ W
    "q268_weighted_median" ->
      """WITH g AS (SELECT l_returnflag,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS gw,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND l_quantity IS NOT NULL
        |    AND CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) > 0
        |  GROUP BY 1, 2),
        |c2 AS (SELECT *,
        |    CAST(sum(gw) OVER (PARTITION BY l_returnflag ORDER BY v)
        |      AS BIGINT) AS cum,
        |    CAST(sum(gw) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot,
        |    CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        |  FROM g)
        |SELECT l_returnflag, max(n) AS n, max(tot) AS total_weight,
        |  CAST(min(v) AS DOUBLE) AS wmedian
        |FROM c2 WHERE 2 * cum >= tot GROUP BY 1""".stripMargin,

    // the same exact order statistic: k = ⌈(n+1)·0.9⌉ on the integer
    // grid, tie chain ends in the unique event id
    "q269_conformal" ->
      """WITH e AS (SELECT event_type, event_id, abs(value - 50.0) AS score
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY score, event_id) AS rk,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM e),
        |k AS (SELECT *, ((n + 1) * 900000 - 1) // 1000000 + 1 AS kk FROM r)
        |SELECT event_type, max(n) AS n, CAST(max(kk) AS BIGINT) AS k,
        |  max(CASE WHEN rk = kk THEN score END) AS q_hat
        |FROM k GROUP BY 1""".stripMargin,

    // the rank-sum AUC identity over the score grid: doubled midrank
    // 2·cum−c+1 stays integer, decimal accumulation, one closing division
    "q270_roc_auc" ->
      """WITH e AS (SELECT l_linestatus,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS s,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem WHERE l_quantity IS NOT NULL),
        |g AS (SELECT l_linestatus, s, CAST(sum(y) AS BIGINT) AS c1,
        |    CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
        |r AS (SELECT *, CAST(sum(c) OVER (PARTITION BY l_linestatus
        |    ORDER BY s) AS BIGINT) AS cum FROM g),
        |m AS (SELECT l_linestatus, CAST(sum(c1) AS BIGINT) AS n_pos,
        |    CAST(sum(c - c1) AS BIGINT) AS n_neg,
        |    sum(CAST(CAST(c1 AS DECIMAL(19,0)) *
        |      CAST(2 * cum - c + 1 AS DECIMAL(19,0)) AS DECIMAL(38,0)))
        |      AS r2
        |  FROM r GROUP BY 1)
        |SELECT l_linestatus, n_pos, n_neg,
        |  CASE WHEN n_pos >= 1 AND n_neg >= 1 THEN
        |    (CAST(r2 AS DOUBLE) - CAST(n_pos AS DOUBLE) *
        |      (CAST(n_pos AS DOUBLE) + 1))
        |    / (2 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END
        |    AS auc
        |FROM m""".stripMargin,

    // rank desc with the unique-orderkey tie-break, the exact
    // ⌊(r−1)k/n⌋+1 bucket cut, integer cumulatives, pinned divisions
    // q271's rank/cut machinery split by treatment arm; pinned
    // qini/uplift closings, empty-arm-prefix guards
    "q404_qini_curve" ->
      """WITH e AS (SELECT o_orderpriority AS k, o_totalprice AS s,
        |    ((o_orderkey % 2) + 2) % 2 = 0 AS tr,
        |    o_orderstatus = 'F' AS y, o_orderkey AS id
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |    AND o_orderkey IS NOT NULL AND o_orderpriority IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY k
        |      ORDER BY s DESC, id) AS rk,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n
        |  FROM e),
        |b AS (SELECT k, ((rk - 1) * 10) // n + 1 AS bucket, tr, y
        |  FROM r),
        |g AS (SELECT k, CAST(bucket AS BIGINT) AS bucket,
        |    CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(sum(CASE WHEN tr AND y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS r_t,
        |    CAST(sum(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_c,
        |    CAST(sum(CASE WHEN NOT tr AND y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS r_c
        |  FROM b GROUP BY 1, 2),
        |c AS (SELECT *,
        |    CAST(sum(n_t) OVER (PARTITION BY k ORDER BY bucket)
        |      AS BIGINT) AS cum_nt,
        |    CAST(sum(r_t) OVER (PARTITION BY k ORDER BY bucket)
        |      AS BIGINT) AS cum_rt,
        |    CAST(sum(n_c) OVER (PARTITION BY k ORDER BY bucket)
        |      AS BIGINT) AS cum_nc,
        |    CAST(sum(r_c) OVER (PARTITION BY k ORDER BY bucket)
        |      AS BIGINT) AS cum_rc FROM g)
        |SELECT k AS o_orderpriority, bucket, n_t, r_t, n_c, r_c,
        |  cum_nt, cum_rt, cum_nc, cum_rc,
        |  CASE WHEN cum_nt > 0 AND cum_nc > 0 THEN
        |    CAST(cum_rt AS DOUBLE) - CAST(cum_rc AS DOUBLE)
        |      * CAST(cum_nt AS DOUBLE) / CAST(cum_nc AS DOUBLE) END
        |    AS qini,
        |  CASE WHEN cum_nt > 0 AND cum_nc > 0 THEN
        |    CAST(cum_rt AS DOUBLE) / CAST(cum_nt AS DOUBLE)
        |      - CAST(cum_rc AS DOUBLE) / CAST(cum_nc AS DOUBLE) END
        |    AS uplift
        |FROM c""".stripMargin,

    "q271_lift_table" ->
      """WITH e AS (SELECT o_orderpriority, o_totalprice AS s,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
        |    o_orderkey AS id
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY s DESC, id) AS rk,
        |    CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
        |      AS n FROM e),
        |b AS (SELECT o_orderpriority,
        |    ((rk - 1) * 10) // n + 1 AS bucket, y FROM r),
        |g AS (SELECT o_orderpriority, CAST(bucket AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
        |  FROM b GROUP BY 1, 2),
        |c AS (SELECT *,
        |    CAST(sum(n) OVER (PARTITION BY o_orderpriority
        |      ORDER BY bucket) AS BIGINT) AS cum_n,
        |    CAST(sum(pos) OVER (PARTITION BY o_orderpriority
        |      ORDER BY bucket) AS BIGINT) AS cum_pos,
        |    CAST(sum(n) OVER (PARTITION BY o_orderpriority) AS BIGINT)
        |      AS tot_n,
        |    CAST(sum(pos) OVER (PARTITION BY o_orderpriority) AS BIGINT)
        |      AS tot_pos FROM g)
        |SELECT o_orderpriority, bucket, n, pos, cum_n, cum_pos,
        |  CASE WHEN tot_pos > 0 THEN
        |    CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) END AS gain,
        |  CASE WHEN tot_pos > 0 THEN
        |    (CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE))
        |    / (CAST(cum_n AS DOUBLE) / CAST(tot_n AS DOUBLE)) END AS lift
        |FROM c""".stripMargin,

    // expectation-suite replay: every check recomputed from scratch
    // as one aggregate CTE + one UNION ALL branch per expectation;
    // the mean rides the same DECIMAL(32,6)-sum / count pinned
    // division (VARCHAR-routed), rates are one division each
    "q407_expectations" ->
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(event_id) AS BIGINT) AS nn_id,
        |    CAST(count(DISTINCT event_id) AS BIGINT) AS d_id,
        |    CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_ts,
        |    CAST(sum(CASE WHEN value IS NOT NULL AND
        |      (CAST(value AS DOUBLE) < 0.0 OR
        |       CAST(value AS DOUBLE) > 150.0) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_rng,
        |    CAST(sum(CASE WHEN event_type IS NOT NULL AND
        |      event_type NOT IN ('view','click','purchase','signup')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_set,
        |    CAST(sum(CASE WHEN event_type IS NOT NULL AND NOT
        |      regexp_matches(event_type, '^[a-z_]+$')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_rx,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS d_usr,
        |    CASE WHEN count(value) > 0 THEN
        |      CAST(CAST(sum(CAST(value AS DECIMAL(32,6))) AS VARCHAR)
        |        AS DOUBLE) / CAST(count(value) AS DOUBLE) END AS mv
        |  FROM events)
        |SELECT 'event ids unique' AS name, 'unique' AS kind,
        |  'event_id' AS "column", n AS n_rows,
        |  nn_id - d_id AS violations,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(nn_id - d_id AS DOUBLE) / CAST(n AS DOUBLE) END
        |    AS violation_rate,
        |  CAST(NULL AS DOUBLE) AS observed,
        |  n = 0 OR CAST(nn_id - d_id AS DOUBLE) / CAST(n AS DOUBLE)
        |    <= 0.0 AS passed,
        |  'duplicated non-null event_id values' AS detail FROM a
        |UNION ALL SELECT 'ts set', 'not_null', 'ts', n, v_ts,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(v_ts AS DOUBLE) / CAST(n AS DOUBLE) END,
        |  CAST(NULL AS DOUBLE),
        |  n = 0 OR CAST(v_ts AS DOUBLE) / CAST(n AS DOUBLE) <= 0.0,
        |  'null ts' FROM a
        |UNION ALL SELECT 'value range', 'between', 'value', n, v_rng,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(v_rng AS DOUBLE) / CAST(n AS DOUBLE) END,
        |  CAST(NULL AS DOUBLE),
        |  n = 0 OR CAST(v_rng AS DOUBLE) / CAST(n AS DOUBLE) <= 0.5,
        |  'value in [0.0, 150.0]' FROM a
        |UNION ALL SELECT 'types in vocab', 'in_set', 'event_type', n,
        |  v_set,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(v_set AS DOUBLE) / CAST(n AS DOUBLE) END,
        |  CAST(NULL AS DOUBLE),
        |  n = 0 OR CAST(v_set AS DOUBLE) / CAST(n AS DOUBLE) <= 0.0,
        |  'event_type outside the allowed set' FROM a
        |UNION ALL SELECT 'type shape', 'matches', 'event_type', n,
        |  v_rx,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(v_rx AS DOUBLE) / CAST(n AS DOUBLE) END,
        |  CAST(NULL AS DOUBLE),
        |  n = 0 OR CAST(v_rx AS DOUBLE) / CAST(n AS DOUBLE) <= 0.0,
        |  'event_type not matching ^[a-z_]+$' FROM a
        |UNION ALL SELECT 'rows', 'row_count_between', '', n,
        |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        |  CAST(n AS DOUBLE), CAST(n AS DOUBLE) >= 1.0,
        |  'row count >= 1.0' FROM a
        |UNION ALL SELECT 'user cardinality', 'distinct_count_between',
        |  'user_id', n, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        |  CAST(d_usr AS DOUBLE),
        |  CAST(d_usr AS DOUBLE) >= 1.0 AND
        |    CAST(d_usr AS DOUBLE) <= 20000.0,
        |  'distinct user_id in [1.0, 20000.0]' FROM a
        |UNION ALL SELECT 'mean value', 'mean_between', 'value', n,
        |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), mv,
        |  mv IS NOT NULL AND mv >= 0.0 AND mv <= 1000.0,
        |  'mean value (1e-6 grid) in [0.0, 1000.0]' FROM a
        |UNION ALL SELECT 'props exists', 'exists', 'props', n,
        |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        |  CAST(NULL AS DOUBLE), TRUE,
        |  'column props present in schema' FROM a""".stripMargin,

    // Anderson-Darling replay: the q400-style doubled-midrank grid
    // windows, per-(row,arm) exact HUGEINT ratios (VARCHAR-routed to
    // double), ascending-v list_reduce left folds, pinned closing
    // Drift-panel replay: the five proven sub-oracles composed as
    // subqueries (each keeps its own WITH scope) joined on the key —
    // the panel must match ALL FIVE at once
    "q412_drift_panel" ->
      """WITH ks AS (SELECT * FROM (WITH e AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |g AS (SELECT event_type, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT event_type,
        |    CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cuma,
        |    CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cumb,
        |    CAST(sum(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
        |    CAST(sum(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
        |  FROM g),
        |m AS (SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
        |    max(abs(cuma * nb - cumb * na)) AS d_num
        |  FROM c GROUP BY 1)
        |SELECT event_type, n_a, n_b, d_num, n_a * n_b AS d_den,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |    THEN CAST(d_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) END AS d
        |FROM m)),
        |cvm AS (SELECT * FROM (WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k, v, ca, cb, ca + cb AS t,
        |    coalesce(sum(ca + cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pn,
        |    coalesce(sum(ca) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pa,
        |    coalesce(sum(cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pb
        |  FROM grid),
        |c3 AS (SELECT k, ca, cb,
        |    3 * ca * (2 * pn + t + 1 - 2 * pa)
        |      * (2 * pn + t + 1 - 2 * pa)
        |      - 6 * (2 * pn + t + 1 - 2 * pa) * ca * (ca + 1)
        |      + 2 * ca * (ca + 1) * (2 * ca + 1) AS sa,
        |    3 * cb * (2 * pn + t + 1 - 2 * pb)
        |      * (2 * pn + t + 1 - 2 * pb)
        |      - 6 * (2 * pn + t + 1 - 2 * pb) * cb * (cb + 1)
        |      + 2 * cb * (cb + 1) * (2 * cb + 1) AS sb
        |  FROM st),
        |m AS (SELECT k, CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    sum(sa) AS s12a, sum(sb) AS s12b FROM c3 GROUP BY 1),
        |z AS (SELECT k, n_a, n_b, CAST(n_a AS DOUBLE) AS nd,
        |    CAST(n_b AS DOUBLE) AS md,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nm,
        |    CAST(CAST(s12a AS VARCHAR) AS DOUBLE) AS da,
        |    CAST(CAST(s12b AS VARCHAR) AS DOUBLE) AS db FROM m)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    (nd * da + md * db) / (12.0 * nd * md * nm)
        |      - (4.0 * nd * md - 1.0) / (6.0 * nm)
        |  END AS t
        |FROM z)),
        |ku AS (SELECT * FROM (WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k,
        |    sum(ca) OVER (PARTITION BY k ORDER BY v) AS cuma,
        |    sum(cb) OVER (PARTITION BY k ORDER BY v) AS cumb,
        |    sum(ca) OVER (PARTITION BY k) AS na,
        |    sum(cb) OVER (PARTITION BY k) AS nb
        |  FROM grid),
        |m AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    CAST(greatest(max(cuma * nb - cumb * na), 0) AS BIGINT)
        |      AS v_plus_num,
        |    CAST(greatest(-min(cuma * nb - cumb * na), 0) AS BIGINT)
        |      AS v_minus_num
        |  FROM st GROUP BY 1)
        |SELECT k AS event_type, n_a, n_b, v_plus_num, v_minus_num,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    CAST(v_plus_num + v_minus_num AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |  END AS v
        |FROM m)),
        |w1t AS (SELECT * FROM (WITH b AS (SELECT event_type AS k,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 'a' ELSE 'b' END AS arm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k,
        |    sum(ca) OVER (PARTITION BY k ORDER BY v) AS cuma,
        |    sum(cb) OVER (PARTITION BY k ORDER BY v) AS cumb,
        |    sum(ca) OVER (PARTITION BY k) AS na,
        |    sum(cb) OVER (PARTITION BY k) AS nb,
        |    coalesce(lead(v) OVER (PARTITION BY k ORDER BY v) - v, 0)
        |      AS dv
        |  FROM grid),
        |f AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    sum(abs(cuma * nb - cumb * na) * dv) AS s
        |  FROM st GROUP BY 1)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    CAST(CAST(s AS VARCHAR) AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 100.0
        |  END AS w1
        |FROM f)),
        |ad AS (SELECT * FROM (WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS a,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k, v, ca, cb, ca + cb AS l,
        |    coalesce(sum(ca + cb) OVER wp, 0) AS pn,
        |    coalesce(sum(ca) OVER wp, 0) AS pa,
        |    coalesce(sum(cb) OVER wp, 0) AS pb,
        |    sum(ca) OVER wk AS na, sum(cb) OVER wk AS nb
        |  FROM grid
        |  WINDOW wp AS (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    wk AS (PARTITION BY k)),
        |r AS (SELECT k, v, na, nb, l, na + nb AS nn,
        |    2 * pn + l AS b2,
        |    2 * pa + ca AS m2a, 2 * pb + cb AS m2b
        |  FROM st),
        |t AS (SELECT k, v, na, nb,
        |    CAST(nn AS HUGEINT) * m2a - CAST(b2 AS HUGEINT) * na
        |      AS d1a,
        |    CAST(nn AS HUGEINT) * m2b - CAST(b2 AS HUGEINT) * nb
        |      AS d1b,
        |    CAST(b2 AS HUGEINT) * (2 * nn - b2)
        |      - CAST(nn AS HUGEINT) * l AS den,
        |    l, nn FROM r),
        |terms AS (SELECT k, v, na, nb,
        |    CASE WHEN den > 0 THEN
        |      (CAST(l AS DOUBLE) *
        |       CAST(CAST(d1a * d1a AS VARCHAR) AS DOUBLE))
        |      / (CAST(nn AS DOUBLE) *
        |         CAST(CAST(den AS VARCHAR) AS DOUBLE))
        |    ELSE 0.0 END AS ta,
        |    CASE WHEN den > 0 THEN
        |      (CAST(l AS DOUBLE) *
        |       CAST(CAST(d1b * d1b AS VARCHAR) AS DOUBLE))
        |      / (CAST(nn AS DOUBLE) *
        |         CAST(CAST(den AS VARCHAR) AS DOUBLE))
        |    ELSE 0.0 END AS tb
        |  FROM t),
        |f AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    count(*) AS grd,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(ta ORDER BY v)), (x, y) -> x + y) AS sa,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(tb ORDER BY v)), (x, y) -> x + y) AS sb
        |  FROM terms GROUP BY 1)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND grd >= 2 THEN
        |    (sa / CAST(n_a AS DOUBLE) + sb / CAST(n_b AS DOUBLE))
        |    * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)
        |    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) END AS a2
        |FROM f))
        |SELECT ad.event_type, ad.n_a, ad.n_b,
        |  ks.d AS ks_d, cvm.t AS cvm_t, ad.a2 AS ad_a2,
        |  ku.v AS kuiper_v, w1t.w1
        |FROM ad
        |JOIN ks USING (event_type) JOIN cvm USING (event_type)
        |JOIN ku USING (event_type) JOIN w1t USING (event_type)""".stripMargin,

    "q409_anderson_darling" ->
      """WITH b AS (SELECT event_type AS k,
        |    ((user_id % 2) + 2) % 2 = 0 AS a,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (SELECT k, v,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT k, v, ca, cb, ca + cb AS l,
        |    coalesce(sum(ca + cb) OVER wp, 0) AS pn,
        |    coalesce(sum(ca) OVER wp, 0) AS pa,
        |    coalesce(sum(cb) OVER wp, 0) AS pb,
        |    sum(ca) OVER wk AS na, sum(cb) OVER wk AS nb
        |  FROM grid
        |  WINDOW wp AS (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    wk AS (PARTITION BY k)),
        |r AS (SELECT k, v, na, nb, l, na + nb AS nn,
        |    2 * pn + l AS b2,
        |    2 * pa + ca AS m2a, 2 * pb + cb AS m2b
        |  FROM st),
        |t AS (SELECT k, v, na, nb,
        |    CAST(nn AS HUGEINT) * m2a - CAST(b2 AS HUGEINT) * na
        |      AS d1a,
        |    CAST(nn AS HUGEINT) * m2b - CAST(b2 AS HUGEINT) * nb
        |      AS d1b,
        |    CAST(b2 AS HUGEINT) * (2 * nn - b2)
        |      - CAST(nn AS HUGEINT) * l AS den,
        |    l, nn FROM r),
        |terms AS (SELECT k, v, na, nb,
        |    CASE WHEN den > 0 THEN
        |      (CAST(l AS DOUBLE) *
        |       CAST(CAST(d1a * d1a AS VARCHAR) AS DOUBLE))
        |      / (CAST(nn AS DOUBLE) *
        |         CAST(CAST(den AS VARCHAR) AS DOUBLE))
        |    ELSE 0.0 END AS ta,
        |    CASE WHEN den > 0 THEN
        |      (CAST(l AS DOUBLE) *
        |       CAST(CAST(d1b * d1b AS VARCHAR) AS DOUBLE))
        |      / (CAST(nn AS DOUBLE) *
        |         CAST(CAST(den AS VARCHAR) AS DOUBLE))
        |    ELSE 0.0 END AS tb
        |  FROM t),
        |f AS (SELECT k, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    count(*) AS grd,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(ta ORDER BY v)), (x, y) -> x + y) AS sa,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(tb ORDER BY v)), (x, y) -> x + y) AS sb
        |  FROM terms GROUP BY 1)
        |SELECT k AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND grd >= 2 THEN
        |    (sa / CAST(n_a AS DOUBLE) + sb / CAST(n_b AS DOUBLE))
        |    * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)
        |    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) END AS a2
        |FROM f""".stripMargin,

    // per-segment suite replay: one per-key aggregate CTE, one UNION
    // ALL branch per expectation; rates/means pinned single divisions
    // Suggested-suite replay: per-column exact stats in one scan,
    // conditional in_set/unique rows data-driven exactly like the
    // engine (exact distinct decides; the approx screen's 4x+16 /
    // 0.8x margins can never flip a decision), identical IEEE
    // expression order for the widened bounds
    "q410_suggest_expectations" ->
      """WITH s AS (SELECT count(*) AS n,
        |    count(o_orderkey) AS nn_ok, count(DISTINCT o_orderkey) AS d_ok,
        |    CAST(min(o_orderkey) AS DOUBLE) AS mn_ok,
        |    CAST(max(o_orderkey) AS DOUBLE) AS mx_ok,
        |    count(o_custkey) AS nn_ck, count(DISTINCT o_custkey) AS d_ck,
        |    CAST(min(o_custkey) AS DOUBLE) AS mn_ck,
        |    CAST(max(o_custkey) AS DOUBLE) AS mx_ck,
        |    count(o_orderstatus) AS nn_os,
        |    count(DISTINCT o_orderstatus) AS d_os,
        |    count(o_totalprice) AS nn_tp,
        |    count(DISTINCT o_totalprice) AS d_tp,
        |    CAST(min(o_totalprice) AS DOUBLE) AS mn_tp,
        |    CAST(max(o_totalprice) AS DOUBLE) AS mx_tp,
        |    count(o_orderdate) AS nn_od,
        |    count(DISTINCT o_orderdate) AS d_od,
        |    count(o_orderpriority) AS nn_op,
        |    count(DISTINCT o_orderpriority) AS d_op
        |  FROM orders),
        |vos AS (SELECT string_agg(v, ',' ORDER BY v) AS csv FROM
        |  (SELECT DISTINCT CAST(o_orderstatus AS VARCHAR) AS v
        |   FROM orders WHERE o_orderstatus IS NOT NULL)),
        |vop AS (SELECT string_agg(v, ',' ORDER BY v) AS csv FROM
        |  (SELECT DISTINCT CAST(o_orderpriority AS VARCHAR) AS v
        |   FROM orders WHERE o_orderpriority IS NOT NULL))
        |SELECT name, kind, "column", lo, hi, values_csv,
        |  max_violation_rate FROM (
        |SELECT 'row count' AS name, 'row_count_between' AS kind,
        |  '' AS "column", floor(n * (1.0 - 0.05)) AS lo,
        |  ceil(n * (1.0 + 0.05)) AS hi, '' AS values_csv,
        |  0.0 AS max_violation_rate FROM s
        |UNION ALL SELECT 'o_orderkey exists', 'exists', 'o_orderkey',
        |  NULL, NULL, '', 0.0 FROM s
        |UNION ALL SELECT 'o_orderkey not_null', 'not_null',
        |  'o_orderkey', NULL, NULL, '',
        |  CASE WHEN n - nn_ok = 0 THEN 0.0 ELSE least(1.0,
        |    (CAST(n - nn_ok AS DOUBLE) / n) * (1.0 + 0.05)) END FROM s
        |UNION ALL SELECT 'o_orderkey between', 'between', 'o_orderkey',
        |  mn_ok - 0.05 * (mx_ok - mn_ok),
        |  mx_ok + 0.05 * (mx_ok - mn_ok), '', 0.0 FROM s
        |  WHERE nn_ok > 0
        |UNION ALL SELECT 'o_orderkey unique', 'unique', 'o_orderkey',
        |  NULL, NULL, '', 0.0 FROM s WHERE nn_ok > 0 AND d_ok = nn_ok
        |UNION ALL SELECT 'o_custkey exists', 'exists', 'o_custkey',
        |  NULL, NULL, '', 0.0 FROM s
        |UNION ALL SELECT 'o_custkey not_null', 'not_null', 'o_custkey',
        |  NULL, NULL, '',
        |  CASE WHEN n - nn_ck = 0 THEN 0.0 ELSE least(1.0,
        |    (CAST(n - nn_ck AS DOUBLE) / n) * (1.0 + 0.05)) END FROM s
        |UNION ALL SELECT 'o_custkey between', 'between', 'o_custkey',
        |  mn_ck - 0.05 * (mx_ck - mn_ck),
        |  mx_ck + 0.05 * (mx_ck - mn_ck), '', 0.0 FROM s
        |  WHERE nn_ck > 0
        |UNION ALL SELECT 'o_custkey unique', 'unique', 'o_custkey',
        |  NULL, NULL, '', 0.0 FROM s WHERE nn_ck > 0 AND d_ck = nn_ck
        |UNION ALL SELECT 'o_orderstatus exists', 'exists',
        |  'o_orderstatus', NULL, NULL, '', 0.0 FROM s
        |UNION ALL SELECT 'o_orderstatus not_null', 'not_null',
        |  'o_orderstatus', NULL, NULL, '',
        |  CASE WHEN n - nn_os = 0 THEN 0.0 ELSE least(1.0,
        |    (CAST(n - nn_os AS DOUBLE) / n) * (1.0 + 0.05)) END FROM s
        |UNION ALL SELECT 'o_orderstatus in_set', 'in_set',
        |  'o_orderstatus', NULL, NULL, (SELECT csv FROM vos), 0.0
        |  FROM s WHERE d_os BETWEEN 1 AND 20
        |UNION ALL SELECT 'o_orderstatus unique', 'unique',
        |  'o_orderstatus', NULL, NULL, '', 0.0 FROM s
        |  WHERE nn_os > 0 AND d_os = nn_os
        |UNION ALL SELECT 'o_totalprice exists', 'exists',
        |  'o_totalprice', NULL, NULL, '', 0.0 FROM s
        |UNION ALL SELECT 'o_totalprice not_null', 'not_null',
        |  'o_totalprice', NULL, NULL, '',
        |  CASE WHEN n - nn_tp = 0 THEN 0.0 ELSE least(1.0,
        |    (CAST(n - nn_tp AS DOUBLE) / n) * (1.0 + 0.05)) END FROM s
        |UNION ALL SELECT 'o_totalprice between', 'between',
        |  'o_totalprice', mn_tp - 0.05 * (mx_tp - mn_tp),
        |  mx_tp + 0.05 * (mx_tp - mn_tp), '', 0.0 FROM s
        |  WHERE nn_tp > 0
        |UNION ALL SELECT 'o_totalprice unique', 'unique',
        |  'o_totalprice', NULL, NULL, '', 0.0 FROM s
        |  WHERE nn_tp > 0 AND d_tp = nn_tp
        |UNION ALL SELECT 'o_orderdate exists', 'exists', 'o_orderdate',
        |  NULL, NULL, '', 0.0 FROM s
        |UNION ALL SELECT 'o_orderdate not_null', 'not_null',
        |  'o_orderdate', NULL, NULL, '',
        |  CASE WHEN n - nn_od = 0 THEN 0.0 ELSE least(1.0,
        |    (CAST(n - nn_od AS DOUBLE) / n) * (1.0 + 0.05)) END FROM s
        |UNION ALL SELECT 'o_orderdate unique', 'unique', 'o_orderdate',
        |  NULL, NULL, '', 0.0 FROM s WHERE nn_od > 0 AND d_od = nn_od
        |UNION ALL SELECT 'o_orderpriority exists', 'exists',
        |  'o_orderpriority', NULL, NULL, '', 0.0 FROM s
        |UNION ALL SELECT 'o_orderpriority not_null', 'not_null',
        |  'o_orderpriority', NULL, NULL, '',
        |  CASE WHEN n - nn_op = 0 THEN 0.0 ELSE least(1.0,
        |    (CAST(n - nn_op AS DOUBLE) / n) * (1.0 + 0.05)) END FROM s
        |UNION ALL SELECT 'o_orderpriority in_set', 'in_set',
        |  'o_orderpriority', NULL, NULL, (SELECT csv FROM vop), 0.0
        |  FROM s WHERE d_op BETWEEN 1 AND 20
        |UNION ALL SELECT 'o_orderpriority unique', 'unique',
        |  'o_orderpriority', NULL, NULL, '', 0.0 FROM s
        |  WHERE nn_op > 0 AND d_op = nn_op
        |)""".stripMargin,

    "q408_expectations_by_key" ->
      """WITH a AS (SELECT event_type AS k,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(event_id) AS BIGINT) AS nn_id,
        |    CAST(count(DISTINCT event_id) AS BIGINT) AS d_id,
        |    CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_ts,
        |    CAST(sum(CASE WHEN value IS NOT NULL AND
        |      (CAST(value AS DOUBLE) < 0.0 OR
        |       CAST(value AS DOUBLE) > 150.0) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_rng,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS d_usr,
        |    CASE WHEN count(value) > 0 THEN
        |      CAST(CAST(sum(CAST(value AS DECIMAL(32,6))) AS VARCHAR)
        |        AS DOUBLE) / CAST(count(value) AS DOUBLE) END AS mv
        |  FROM events GROUP BY 1)
        |SELECT k AS event_type, 'event ids unique' AS name,
        |  'unique' AS kind, 'event_id' AS "column", n AS n_rows,
        |  nn_id - d_id AS violations,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(nn_id - d_id AS DOUBLE) / CAST(n AS DOUBLE) END
        |    AS violation_rate,
        |  CAST(NULL AS DOUBLE) AS observed,
        |  n = 0 OR CAST(nn_id - d_id AS DOUBLE) / CAST(n AS DOUBLE)
        |    <= 0.0 AS passed,
        |  'duplicated non-null event_id values' AS detail FROM a
        |UNION ALL SELECT k, 'ts set', 'not_null', 'ts', n, v_ts,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(v_ts AS DOUBLE) / CAST(n AS DOUBLE) END,
        |  CAST(NULL AS DOUBLE),
        |  n = 0 OR CAST(v_ts AS DOUBLE) / CAST(n AS DOUBLE) <= 0.0,
        |  'null ts' FROM a
        |UNION ALL SELECT k, 'value range', 'between', 'value', n,
        |  v_rng,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(v_rng AS DOUBLE) / CAST(n AS DOUBLE) END,
        |  CAST(NULL AS DOUBLE),
        |  n = 0 OR CAST(v_rng AS DOUBLE) / CAST(n AS DOUBLE) <= 0.5,
        |  'value in [0.0, 150.0]' FROM a
        |UNION ALL SELECT k, 'segment size', 'row_count_between', '',
        |  n, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        |  CAST(n AS DOUBLE), CAST(n AS DOUBLE) >= 100.0,
        |  'row count >= 100.0' FROM a
        |UNION ALL SELECT k, 'user cardinality',
        |  'distinct_count_between', 'user_id', n,
        |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        |  CAST(d_usr AS DOUBLE),
        |  CAST(d_usr AS DOUBLE) >= 1.0 AND
        |    CAST(d_usr AS DOUBLE) <= 20000.0,
        |  'distinct user_id in [1.0, 20000.0]' FROM a
        |UNION ALL SELECT k, 'mean value', 'mean_between', 'value', n,
        |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), mv,
        |  mv IS NOT NULL AND mv >= 0.0 AND mv <= 1000.0,
        |  'mean value (1e-6 grid) in [0.0, 1000.0]' FROM a""".stripMargin,

    // STL-lite replay: 2×p half-weight MA trend on the DOUBLED cent
    // grid (T = 2·S − ends, m = 2p = 8), detrended values exact on
    // the m·cents grid, phase means and the n-weighted centering one
    // pinned chain each over HUGEINT sums (VARCHAR-routed to match
    // Spark's decimal→double), remainder = value − trend − seasonal
    // left-to-right
    "q406_stl_decompose" ->
      """WITH b AS (SELECT event_type AS k, event_id AS id, ts,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND event_type IS NOT NULL),
        |r AS (SELECT *, (row_number() OVER wo - 1) % 4 AS phase,
        |    sum(vc) OVER wf AS s5,
        |    count(*) OVER wf AS c5,
        |    lag(vc, 2) OVER wo AS la, lead(vc, 2) OVER wo AS le
        |  FROM b
        |  WINDOW wo AS (PARTITION BY k ORDER BY ts, id),
        |    wf AS (PARTITION BY k ORDER BY ts, id
        |      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
        |t AS (SELECT k, id, ts, vc, phase,
        |    CASE WHEN c5 = 5 THEN 2 * s5 - la - le END AS tt FROM r),
        |d AS (SELECT *, CASE WHEN tt IS NOT NULL THEN 8 * vc - tt END
        |    AS dm FROM t),
        |p AS (SELECT k, phase, count(dm) AS n, sum(dm) AS sn
        |  FROM d GROUP BY 1, 2),
        |c AS (SELECT k, phase,
        |    CASE WHEN n > 0 THEN CAST(CAST(sn AS VARCHAR) AS DOUBLE)
        |      / CAST(n AS DOUBLE) / 8.0 / 100.0 END
        |    - CASE WHEN sum(n) OVER wk > 0 THEN
        |        CAST(CAST(sum(sn) OVER wk AS VARCHAR) AS DOUBLE)
        |      / CAST(sum(n) OVER wk AS DOUBLE) / 8.0 / 100.0 END
        |      AS seasonal
        |  FROM p WINDOW wk AS (PARTITION BY k))
        |SELECT d.k AS event_type, d.id AS event_id, d.ts,
        |  CAST(d.vc AS DOUBLE) / 100.0 AS value,
        |  CAST(d.phase AS BIGINT) AS phase,
        |  CAST(d.tt AS DOUBLE) / 8.0 / 100.0 AS trend,
        |  c.seasonal,
        |  CAST(d.vc AS DOUBLE) / 100.0
        |    - CAST(d.tt AS DOUBLE) / 8.0 / 100.0 - c.seasonal
        |    AS remainder
        |FROM d JOIN c ON d.k = c.k AND d.phase = c.phase""".stripMargin,

    // exact contingency/margin counts over the FULL r×c level grid
    // (structural zeros carry χ² mass); the closing folds the
    // per-cell doubles in sorted (a,b) order (the q157 fold idiom)
    // q272's full-grid machinery with the G term: 2*o*ln(o/e)
    // snapped to 1e-9, zeros exact 0, sorted-cell fold
    "q405_g_test" ->
      """WITH b AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(o_orderpriority AS VARCHAR) AS a,
        |    CAST(o_orderstatus AS VARCHAR) AS bb FROM orders
        |  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
        |    AND o_orderdate IS NOT NULL),
        |cells AS (SELECT o_year, a, bb, CAST(count(*) AS BIGINT)
        |    AS o FROM b GROUP BY 1, 2, 3),
        |rm AS (SELECT o_year, a, CAST(sum(o) AS BIGINT) AS ra
        |  FROM cells GROUP BY 1, 2),
        |cm AS (SELECT o_year, bb, CAST(sum(o) AS BIGINT) AS rb
        |  FROM cells GROUP BY 1, 2),
        |tt AS (SELECT o_year, CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT a) AS BIGINT) AS r,
        |    CAST(count(DISTINCT bb) AS BIGINT) AS c
        |  FROM cells GROUP BY 1),
        |grid AS (SELECT rm.o_year, rm.a, cm.bb, rm.ra, cm.rb,
        |    coalesce(cells.o, 0) AS o
        |  FROM rm JOIN cm USING (o_year)
        |    LEFT JOIN cells USING (o_year, a, bb)),
        |terms AS (SELECT grid.o_year, a, bb, n, r, c,
        |    CASE WHEN o > 0 THEN
        |      2.0 * CAST(o AS DOUBLE) * round(ln(CAST(o AS DOUBLE)
        |        / (CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
        |          / CAST(n AS DOUBLE))), 9)
        |    ELSE 0.0 END AS t
        |  FROM grid JOIN tt USING (o_year)),
        |f AS (SELECT o_year, max(n) AS n, max(r) AS r,
        |    max(c) AS c,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(t ORDER BY a, bb)), (x, y) -> x + y) AS g
        |  FROM terms GROUP BY 1)
        |SELECT o_year, n, r, c,
        |  CASE WHEN r > 1 AND c > 1 THEN g END AS g2
        |FROM f""".stripMargin,

    "q272_cramers_v" ->
      """WITH b AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(o_orderpriority AS VARCHAR) AS a,
        |    CAST(o_orderstatus AS VARCHAR) AS bb FROM orders
        |  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
        |    AND o_orderdate IS NOT NULL),
        |cells AS (SELECT o_year, a, bb, CAST(count(*) AS BIGINT)
        |    AS o FROM b GROUP BY 1, 2, 3),
        |rm AS (SELECT o_year, a, CAST(sum(o) AS BIGINT) AS ra
        |  FROM cells GROUP BY 1, 2),
        |cm AS (SELECT o_year, bb, CAST(sum(o) AS BIGINT) AS rb
        |  FROM cells GROUP BY 1, 2),
        |tt AS (SELECT o_year, CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT a) AS BIGINT) AS r,
        |    CAST(count(DISTINCT bb) AS BIGINT) AS c
        |  FROM cells GROUP BY 1),
        |grid AS (SELECT rm.o_year, rm.a, cm.bb, rm.ra, cm.rb,
        |    coalesce(cells.o, 0) AS o
        |  FROM rm JOIN cm USING (o_year)
        |    LEFT JOIN cells USING (o_year, a, bb)),
        |terms AS (SELECT grid.o_year, a, bb, n, r, c,
        |    (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
        |       / CAST(n AS DOUBLE))
        |    * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
        |       / CAST(n AS DOUBLE))
        |    / (CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS t
        |  FROM grid JOIN tt USING (o_year)),
        |f AS (SELECT o_year, max(n) AS n, max(r) AS r,
        |    max(c) AS c,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(t ORDER BY a, bb)), (x, y) -> x + y) AS chisq
        |  FROM terms GROUP BY 1)
        |SELECT o_year, n, r, c, chisq,
        |  CASE WHEN n > 0 AND least(r, c) - 1 > 0 THEN
        |    sqrt(chisq / (CAST(n AS DOUBLE) *
        |      CAST(least(r, c) - 1 AS DOUBLE))) END AS v
        |FROM f""".stripMargin,

    // identical canonical row string both sides; 60-bit md5 lane via
    // DuckDB's hex cast / Spark's conv; XOR + mod-2⁶¹−1 sum + extremes
    "q273_fingerprint" ->
      """WITH r AS (SELECT l_returnflag,
        |    md5(coalesce(CAST(l_orderkey AS VARCHAR), chr(1)) || '|' ||
        |        coalesce(CAST(l_linenumber AS VARCHAR), chr(1)) || '|' ||
        |        coalesce(l_linestatus, chr(1))) AS hx
        |  FROM lineitem),
        |h AS (SELECT l_returnflag,
        |    CAST('0x' || substr(hx, 1, 15) AS BIGINT) AS hv FROM r)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(bit_xor(hv) AS BIGINT) AS xor_sig,
        |  CAST(sum(hv) % 2305843009213693951 AS BIGINT) AS sum_sig,
        |  min(hv) AS min_sig, max(hv) AS max_sig
        |FROM h GROUP BY 1""".stripMargin,

    // q126's axis construction + two IGNORE-NULLS directional
    // windows; the lerp runs on grid-INDEX deltas (exact small
    // integers), three pinned IEEE ops, same shape as the engine
    "q275_interp" ->
      """WITH b AS (SELECT user_id, date_trunc('hour', ts) AS bucket,
        |           max(value) AS v
        |           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        |      FROM b GROUP BY 1),
        |a AS (SELECT user_id, unnest(generate_series(b0, b1,
        |      INTERVAL 1 HOUR)) AS bucket FROM s),
        |j AS (SELECT a.user_id, a.bucket, b.v,
        |    row_number() OVER (PARTITION BY a.user_id ORDER BY a.bucket)
        |      AS rn
        |  FROM a LEFT JOIN b ON a.user_id = b.user_id
        |    AND a.bucket = b.bucket),
        |w AS (SELECT *,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS pi,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED
        |      FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN
        |      CURRENT ROW AND UNBOUNDED FOLLOWING) AS ni
        |  FROM j)
        |SELECT user_id, bucket, v,
        |  CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |         CAST(pv AS DOUBLE) + (CAST(nv AS DOUBLE) -
        |           CAST(pv AS DOUBLE)) * (CAST(rn - pi AS DOUBLE)
        |           / CAST(ni - pi AS DOUBLE)) END AS v_interp
        |FROM w""".stripMargin,

    // the same exact ⌊(r−1)k/n⌋+1 cuts on best-first total orders
    // (custkey tie-break); monetary ranks on the exact decimal sum
    "q276_rfm" ->
      """WITH base AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    o_custkey, max(o_orderdate) AS last_date,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_totalprice IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (SELECT *,
        |    CAST(count(*) OVER (PARTITION BY nation) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY nation
        |      ORDER BY last_date DESC, o_custkey) AS rr,
        |    row_number() OVER (PARTITION BY nation
        |      ORDER BY frequency DESC, o_custkey) AS rf,
        |    row_number() OVER (PARTITION BY nation
        |      ORDER BY mon DESC, o_custkey) AS rm2
        |  FROM base),
        |sc AS (SELECT nation, o_custkey, last_date, frequency,
        |    CAST(mon AS DOUBLE) AS monetary,
        |    6 - (((rr - 1) * 5) // n + 1) AS r_score,
        |    6 - (((rf - 1) * 5) // n + 1) AS f_score,
        |    6 - (((rm2 - 1) * 5) // n + 1) AS m_score
        |  FROM r)
        |SELECT nation, o_custkey, last_date, frequency, monetary,
        |  CAST(r_score AS BIGINT) AS r_score,
        |  CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
        |    CAST(m_score AS VARCHAR) AS segment
        |FROM sc""".stripMargin,

    // exact decimal member sums ranked (measure DESC, member ASC —
    // total order), k-cut + OTHER re-collapse, double cast at the end
    "q277_topk_other" ->
      """WITH grid AS (SELECT o_orderpriority,
        |    CAST(o_custkey AS VARCHAR) AS m,
        |    CAST(count(*) AS BIGINT) AS c,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s2
        |  FROM orders WHERE o_custkey IS NOT NULL
        |    AND o_totalprice IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY s2 DESC, m) AS rk FROM grid),
        |l AS (SELECT o_orderpriority,
        |    CASE WHEN rk <= 5 THEN m ELSE 'OTHER' END AS member,
        |    CASE WHEN rk <= 5 THEN rk ELSE 6 END AS rank, c, s2 FROM r)
        |SELECT o_orderpriority, member, CAST(min(rank) AS BIGINT) AS rank,
        |  CAST(sum(c) AS BIGINT) AS n_rows,
        |  CAST(sum(s2) AS DOUBLE) AS measure
        |FROM l GROUP BY 1, 2""".stripMargin,

    // the same grid/cumulative machinery as q270; Gini closing is
    // pure rational arithmetic over exact counts — the gain-tie pick
    // compares the identical pinned doubles on both engines
    "q278_best_split" ->
      """WITH e AS (SELECT l_linestatus,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS v,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem WHERE l_quantity IS NOT NULL),
        |g AS (SELECT l_linestatus, v, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(y) AS BIGINT) AS p FROM e GROUP BY 1, 2),
        |cum AS (SELECT *,
        |    CAST(sum(c) OVER (PARTITION BY l_linestatus ORDER BY v)
        |      AS BIGINT) AS cn,
        |    CAST(sum(p) OVER (PARTITION BY l_linestatus ORDER BY v)
        |      AS BIGINT) AS cp,
        |    CAST(sum(c) OVER (PARTITION BY l_linestatus) AS BIGINT) AS n,
        |    CAST(sum(p) OVER (PARTITION BY l_linestatus) AS BIGINT) AS np
        |  FROM g),
        |cand AS (SELECT *, CASE WHEN n - cn > 0 THEN
        |    (1 - (CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
        |       * (CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
        |       - (1 - CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
        |       * (1 - CAST(np AS DOUBLE) / CAST(n AS DOUBLE)))
        |    - (CAST(cn AS DOUBLE) / CAST(n AS DOUBLE)
        |       * (1 - (CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))
        |          * (CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))
        |          - (1 - CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))
        |          * (1 - CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)))
        |     + CAST(n - cn AS DOUBLE) / CAST(n AS DOUBLE)
        |       * (1 - (CAST(np - cp AS DOUBLE) / CAST(n - cn AS DOUBLE))
        |          * (CAST(np - cp AS DOUBLE) / CAST(n - cn AS DOUBLE))
        |          - (1 - CAST(np - cp AS DOUBLE) / CAST(n - cn AS DOUBLE))
        |          * (1 - CAST(np - cp AS DOUBLE) / CAST(n - cn AS DOUBLE))))
        |    END AS gain FROM cum),
        |c2 AS (SELECT *, max(gain) OVER (PARTITION BY l_linestatus)
        |    AS gmax FROM cand),
        |f AS (SELECT l_linestatus, max(n) AS n, max(np) AS n_pos,
        |    max(gmax) AS bg,
        |    CAST(min(CASE WHEN gain = gmax THEN v END) AS DOUBLE) AS bt
        |  FROM c2 GROUP BY 1)
        |SELECT l_linestatus, n, n_pos,
        |  CASE WHEN n > 0 AND n_pos > 0 AND n_pos < n
        |    AND bg IS NOT NULL THEN bt END AS best_threshold,
        |  CASE WHEN n > 0 AND n_pos > 0 AND n_pos < n
        |    AND bg IS NOT NULL THEN bg END AS best_gain
        |FROM f""".stripMargin,

    // the q272 chain keyed by feature over a 4-way melted relation;
    // continuous features land on the DECIMAL(18,2) string grid in
    // both engines (the q157 digit-extraction precedent)
    "q279_leakage_scan" ->
      """WITH m AS (
        |  SELECT 'linestatus' AS feature, CAST(l_linestatus AS VARCHAR)
        |    AS fv, l_returnflag AS y FROM lineitem
        |  UNION ALL SELECT 'quantity',
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR),
        |    l_returnflag FROM lineitem
        |  UNION ALL SELECT 'discount',
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) AS VARCHAR),
        |    l_returnflag FROM lineitem
        |  UNION ALL SELECT 'tax',
        |    CAST(CAST(l_tax AS DECIMAL(18,2)) AS VARCHAR),
        |    l_returnflag FROM lineitem),
        |b AS (SELECT feature, fv AS a, CAST(y AS VARCHAR) AS bb FROM m
        |  WHERE fv IS NOT NULL AND y IS NOT NULL),
        |cells AS (SELECT feature, a, bb, CAST(count(*) AS BIGINT)
        |    AS o FROM b GROUP BY 1, 2, 3),
        |rm AS (SELECT feature, a, CAST(sum(o) AS BIGINT) AS ra
        |  FROM cells GROUP BY 1, 2),
        |cm AS (SELECT feature, bb, CAST(sum(o) AS BIGINT) AS rb
        |  FROM cells GROUP BY 1, 2),
        |tt AS (SELECT feature, CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT a) AS BIGINT) AS r,
        |    CAST(count(DISTINCT bb) AS BIGINT) AS c
        |  FROM cells GROUP BY 1),
        |grid AS (SELECT rm.feature, rm.a, cm.bb, rm.ra, cm.rb,
        |    coalesce(cells.o, 0) AS o
        |  FROM rm JOIN cm USING (feature)
        |    LEFT JOIN cells USING (feature, a, bb)),
        |terms AS (SELECT grid.feature, a, bb, n, r, c,
        |    (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
        |       / CAST(n AS DOUBLE))
        |    * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
        |       / CAST(n AS DOUBLE))
        |    / (CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS t
        |  FROM grid JOIN tt USING (feature)),
        |f AS (SELECT feature, max(n) AS n, max(r) AS r,
        |    max(c) AS c,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(t ORDER BY a, bb)), (x, y) -> x + y) AS chisq
        |  FROM terms GROUP BY 1)
        |SELECT feature, n, r, c, chisq,
        |  CASE WHEN n > 0 AND least(r, c) - 1 > 0 THEN
        |    sqrt(chisq / (CAST(n AS DOUBLE) *
        |      CAST(least(r, c) - 1 AS DOUBLE))) END AS v
        |FROM f""".stripMargin,

    // q127's funnel chain, whole-second latencies (boundary-count =
    // truncation diff), then the q268 exact-lower-median machinery
    // at unit weight
    "q280_funnel_latency" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |w1 AS (SELECT *, CASE WHEN event_type = 'view' THEN ts END
        |       AS q0 FROM e),
        |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND
        |         min(q0) OVER (PARTITION BY user_id ORDER BY ts)
        |           IS NOT NULL
        |         THEN ts END AS q1 FROM w1),
        |w3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND
        |         min(q1) OVER (PARTITION BY user_id ORDER BY ts)
        |           IS NOT NULL
        |         THEN ts END AS q2 FROM w2),
        |f AS (SELECT user_id, min(q0) AS s1, min(q1) AS s2,
        |      min(q2) AS s3 FROM w3 GROUP BY user_id),
        |lat AS (SELECT 'view_to_click' AS pair,
        |    date_diff('second', s1, s2) AS v0 FROM f
        |    WHERE s1 IS NOT NULL AND s2 IS NOT NULL
        |  UNION ALL SELECT 'click_to_purchase',
        |    date_diff('second', s2, s3) FROM f
        |    WHERE s2 IS NOT NULL AND s3 IS NOT NULL),
        |g AS (SELECT pair, CAST(v0 AS DECIMAL(18,2)) AS v,
        |    CAST(count(*) AS BIGINT) * 100 AS gw,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lat GROUP BY 1, 2),
        |c2 AS (SELECT *,
        |    CAST(sum(gw) OVER (PARTITION BY pair ORDER BY v) AS BIGINT)
        |      AS cum,
        |    CAST(sum(gw) OVER (PARTITION BY pair) AS BIGINT) AS tot,
        |    CAST(sum(c) OVER (PARTITION BY pair) AS BIGINT) AS n FROM g)
        |SELECT pair, max(n) AS n, max(tot) AS total_weight,
        |  CAST(min(v) AS DOUBLE) AS wmedian
        |FROM c2 WHERE 2 * cum >= tot GROUP BY 1""".stripMargin,

    // the same prefix-sum identity S = P - min(prefix P, 0), carried
    // in exact BIGINT cents (DuckDB's WINDOWED decimal sum routes
    // through double — measured 0.049999... vs the engine's exact
    // 0.05 — so integer cents are the exact carrier; the closing
    // /100.0 and the decimal→double cast round the same rational to
    // the same nearest double); cents via the ONE snap convention
    // (CAST to DECIMAL(18,2), the q289/q290 discipline — engine ≡
    // oracle on the cent-grid gate data); (ts, event_id) total order
    "q281_cusum" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_id IS NOT NULL AND user_id IS NOT NULL),
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
        |FROM m""".stripMargin,

    // the lower-sided mirror: drift flips to (5000 - xc), everything
    // else identical to q281
    "q295_cusum_lower" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_id IS NOT NULL AND user_id IS NOT NULL),
        |p AS (SELECT user_id, ts, event_id, xc,
        |    CAST(sum(5000 - xc) OVER
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
        |FROM m""".stripMargin,

    // lag pairs in exact integer cents; every moment closes as an
    // EXACT integer-grid sum over one correctly-rounded division
    // (cents/100, cent-products/1e4) — the same rational the engine's
    // decimal→double cast rounds; the corr chain replays the engine's
    // pinned IEEE expression
    "q293_acf" -> AcfOracleSql.sql,

    // Durbin-Levinson over the q293 acf grid: the SAME left-fold the
    // engine runs (list_reduce over the lag-sorted corr list), every
    // inner Σ a 0.0-seeded left-fold over zipped lists — bit-identical
    // IEEE. State is a DOUBLE[][] triple [phi, rs, pacf] (a STRUCT
    // accumulator silently fails to fold in DuckDB 1.0 — measured:
    // the lambda sees the zero state at every step)
    "q307_pacf" -> {
      val num = "(x[2][1] - list_reduce(list_prepend(" +
        "CAST(0.0 AS DOUBLE), list_transform(list_zip(a[1], " +
        "list_reverse(a[2])), t -> t[1] * t[2])), (s, v) -> s + v))"
      val den = "(CAST(1.0 AS DOUBLE) - list_reduce(list_prepend(" +
        "CAST(0.0 AS DOUBLE), list_transform(list_zip(a[1], a[2]), " +
        "t -> t[1] * t[2])), (s, v) -> s + v))"
      // engine's den-==-0 degenerate cut (acf ±1): null φ, and the
      // null poisons every later lag's dots — rows drop at the end
      val aa = s"(CASE WHEN $den <> CAST(0.0 AS DOUBLE) " +
        s"THEN $num / $den END)"
      s"""WITH acfr AS (${AcfOracleSql.sql}),
         |pref AS (SELECT *, min(CASE WHEN corr IS NULL THEN lag END)
         |    OVER (PARTITION BY event_type) AS cut FROM acfr),
         |lim AS (SELECT event_type, lag, corr FROM pref
         |  WHERE corr IS NOT NULL AND (cut IS NULL OR lag < cut)),
         |st AS (SELECT event_type,
         |    list_reduce(list_prepend(
         |      [CAST([] AS DOUBLE[]), CAST([] AS DOUBLE[]),
         |       CAST([] AS DOUBLE[])],
         |      list_transform(list(corr ORDER BY lag),
         |        c -> [CAST([] AS DOUBLE[]), [CAST(c AS DOUBLE)],
         |              CAST([] AS DOUBLE[])])),
         |      (a, x) -> [
         |        list_concat(list_transform(
         |          list_zip(a[1], list_reverse(a[1])),
         |          t -> t[1] - $aa * t[2]), [$aa]),
         |        list_concat(a[2], [x[2][1]]),
         |        list_concat(a[3], [$aa])])[3] AS pl
         |  FROM lim GROUP BY 1)
         |SELECT event_type, CAST(i AS INT) AS lag, pl[i] AS pacf
         |FROM (SELECT event_type, pl,
         |      unnest(generate_series(1, len(pl))) AS i FROM st)
         |WHERE pl[i] IS NOT NULL""".stripMargin
    },



    // the engine's 1e-6 snapped grid in integer micro-units: per-row
    // squares HALF_UP to 1e-6 ((vu²+500000)//1e6 — exact integers),
    // moments close as exact micro-unit sums over one correctly-
    // rounded division, the between-scatter Σs_c²/n_c folds
    // SEQUENTIALLY in class order (list_reduce — the crossGroupCosine
    // discipline), closing chain pinned IEEE
    "q294_class_separation" ->
      """WITH e AS (SELECT CAST(vec_id % 5 AS INT) AS c,
        |    embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id IS NOT NULL
        |    AND embedding IS NOT NULL),
        |x AS (SELECT c, CAST(i - 1 AS INT) AS dim,
        |    CAST(CAST(v[i] AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vu
        |  FROM (SELECT c, v, unnest(generate_series(1, len(v))) AS i
        |        FROM e)),
        |g AS (SELECT c, dim, CAST(count(*) AS BIGINT) AS n,
        |    sum(vu) AS su,
        |    sum((vu * vu + 500000) // 1000000) AS ssu
        |  FROM x GROUP BY 1, 2),
        |p AS (SELECT dim, CAST(sum(n) AS BIGINT) AS n,
        |    CAST(sum(su) AS DOUBLE) / 1000000.0 AS ts,
        |    CAST(sum(ssu) AS DOUBLE) / 1000000.0 AS tss,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list((CAST(su AS DOUBLE) / 1000000.0) *
        |           (CAST(su AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE)
        |           ORDER BY c)),
        |      (a, t) -> a + t) AS bsum
        |  FROM g GROUP BY dim),
        |f AS (SELECT dim, n,
        |    CASE WHEN tss - bsum > 0
        |      THEN (bsum - ts * ts / CAST(n AS DOUBLE)) / (tss - bsum)
        |    END AS fisher
        |  FROM p)
        |SELECT dim, n, fisher,
        |  CAST(row_number() OVER (ORDER BY fisher DESC NULLS LAST, dim)
        |    AS INT) AS "rank"
        |FROM f""".stripMargin,

    // the q89 sessionization (lag + running break sum, ties share a
    // session), first-5 path via ORDER BY (t, event_id) string_agg,
    // count-desc/path-asc total-order rank
    "q296_top_paths" ->
      """WITH b AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS t
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |s AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL
        |      OR t - prev > 1800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY t) AS BIGINT) AS sess
        |  FROM (SELECT *, lag(t) OVER (PARTITION BY user_id
        |          ORDER BY t) AS prev FROM b)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, sess
        |    ORDER BY t, event_id) AS rn FROM s),
        |p AS (SELECT user_id, sess,
        |    string_agg(event_type, ' > ' ORDER BY t, event_id) AS path
        |  FROM r WHERE rn <= 5 GROUP BY 1, 2),
        |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |  FROM p GROUP BY 1),
        |k AS (SELECT path, n_sessions,
        |    CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
        |      AS INT) AS "rank"
        |  FROM c)
        |SELECT * FROM k WHERE "rank" <= 20""".stripMargin,

    // exact integer-cent revenue (windowed decimal sums route through
    // double in DuckDB — the q281 lesson), hour buckets in epoch
    // micros, age as exact integer division, distinct-actor counts,
    // the ltv closing chain pinned IEEE
    "q297_cohort_ltv_hourly" ->
      """WITH b AS (SELECT user_id,
        |    epoch_us(date_trunc('hour', ts)) AS bu,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |w AS (SELECT *, min(bu) OVER (PARTITION BY user_id) AS cu
        |  FROM b),
        |a AS (SELECT user_id, cu, (bu - cu) // 3600000000 AS age, vc
        |  FROM w),
        |sz AS (SELECT cu,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_size
        |  FROM a WHERE age = 0 GROUP BY 1),
        |g AS (SELECT cu, age,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_active,
        |    CAST(sum(vc) AS BIGINT) AS rev_c FROM a GROUP BY 1, 2),
        |c AS (SELECT *, CAST(sum(rev_c) OVER (PARTITION BY cu
        |    ORDER BY age ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS BIGINT) AS cum_c FROM g)
        |SELECT c.cu AS cohort_us, CAST(c.age AS BIGINT) AS age,
        |  c.n_active,
        |  CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
        |  CAST(cum_c AS DOUBLE) / 100.0 AS cum_revenue,
        |  sz.cohort_size,
        |  (CAST(cum_c AS DOUBLE) / 100.0) / CAST(sz.cohort_size AS DOUBLE)
        |    AS ltv
        |FROM c JOIN sz ON c.cu = sz.cu""".stripMargin,

    // same rank-mod-k on the same (stratum, orderkey) total order
    "q282_kfold" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST((row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderkey) - 1) % 5 AS INT) AS fold
        |FROM orders""".stripMargin,

    // quadratic per-order self-join is the oracle; the engine's
    // binned equi-join must emit the identical pair set
    "q283_overlap_join" ->
      """WITH l AS (SELECT l_orderkey AS k, CAST(l_linenumber AS BIGINT)
        |    AS lid,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS lo,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT)
        |      + CAST(l_quantity AS BIGINT) AS hi
        |  FROM lineitem WHERE l_shipdate IS NOT NULL
        |    AND l_quantity IS NOT NULL)
        |SELECT a.k AS l_orderkey, a.lid AS lid, a.lo AS lo, a.hi AS hi,
        |  b.lid AS r_lid, b.lo AS r_lo, b.hi AS r_hi
        |FROM l a JOIN l b ON a.k = b.k AND a.lid < b.lid
        |  AND a.lo <= b.hi AND b.lo <= a.hi""".stripMargin,

    // same melt → grid → rank-with-value-tie-break → totals join
    "q284_skew_profile" ->
      """WITH m AS (
        |  SELECT 'l_returnflag' AS "column",
        |      CAST(l_returnflag AS VARCHAR) AS value
        |    FROM lineitem WHERE l_returnflag IS NOT NULL
        |  UNION ALL SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR)
        |    FROM lineitem WHERE l_linestatus IS NOT NULL
        |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR)
        |    FROM lineitem WHERE l_suppkey IS NOT NULL),
        |g AS (SELECT "column", value, CAST(count(*) AS BIGINT) AS n
        |  FROM m GROUP BY 1, 2),
        |t AS (SELECT "column", CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_distinct FROM g GROUP BY 1),
        |r AS (SELECT g.*, row_number() OVER (PARTITION BY "column"
        |    ORDER BY n DESC, value ASC) AS rank FROM g)
        |SELECT r."column", r.value, r.n, CAST(r.rank AS INT) AS rank,
        |  CAST(r.n AS DOUBLE) / CAST(t.n_rows AS DOUBLE) AS share,
        |  t.n_rows, t.n_distinct
        |FROM r JOIN t ON r."column" = t."column" WHERE r.rank <= 10""".stripMargin,

    // ranks on the (value-9-grid, event_id) total order; each rank's
    // reference = exact decimal mean over slices that have the rank
    "q285_quantile_normalize" ->
      """WITH b AS (SELECT event_id, event_type, value,
        |    CAST(round(CAST(value AS DOUBLE), 9) AS DECIMAL(18,9)) AS y,
        |    (event_type IS NOT NULL AND value IS NOT NULL) AS ok
        |  FROM events),
        |r AS (SELECT *, CASE WHEN ok THEN row_number() OVER
        |    (PARTITION BY CASE WHEN ok THEN event_type END
        |     ORDER BY y ASC, event_id ASC) END AS rk FROM b),
        |ref AS (SELECT rk, CAST(sum(y) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS refv
        |  FROM r WHERE rk IS NOT NULL GROUP BY 1)
        |SELECT r.event_id, r.event_type, r.value, ref.refv AS value_qn
        |FROM r LEFT JOIN ref ON r.rk = ref.rk""".stripMargin,

    // nine exact decimal moments (integer-snapped second moments, the
    // q267 discipline), then the SAME pinned Cramer chain verbatim
    "q286_ridge2" ->
      """WITH b AS (SELECT l_returnflag,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS x1,
        |    CAST(l_discount AS DECIMAL(18,2)) AS x2
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND l_quantity IS NOT NULL AND l_discount IS NOT NULL),
        |m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
        |    sum(CAST(x1 * x1 AS DECIMAL(38,6))) AS s11_0,
        |    sum(CAST(x2 * x2 AS DECIMAL(38,6))) AS s22_0,
        |    sum(CAST(x1 * x2 AS DECIMAL(38,6))) AS s12_0,
        |    sum(CAST(x1 * y AS DECIMAL(38,6))) AS s1y_0,
        |    sum(CAST(x2 * y AS DECIMAL(38,6))) AS s2y_0
        |  FROM b GROUP BY 1),
        |c AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
        |    CAST(sy AS DOUBLE) AS syd,
        |    CAST(CAST(s11_0 - (s11_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s11,
        |    CAST(CAST(s22_0 - (s22_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s22,
        |    CAST(CAST(s12_0 - (s12_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s12,
        |    CAST(CAST(s1y_0 - (s1y_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s1y,
        |    CAST(CAST(s2y_0 - (s2y_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s2y
        |  FROM m),
        |g AS (SELECT *, nd * s11 - s1d * s1d AS c11,
        |    nd * s22 - s2d * s2d AS c22, nd * s12 - s1d * s2d AS c12,
        |    nd * s1y - s1d * syd AS c1y, nd * s2y - s2d * syd AS c2y
        |  FROM c),
        |a AS (SELECT *, c11 + CAST(1000 AS DOUBLE) * nd * nd AS a11,
        |    c22 + CAST(1000 AS DOUBLE) * nd * nd AS a22 FROM g),
        |dd AS (SELECT *, a11 * a22 - c12 * c12 AS det FROM a),
        |bb AS (SELECT *, (c1y * a22 - c2y * c12) / det AS b1,
        |    (a11 * c2y - c12 * c1y) / det AS b2 FROM dd)
        |SELECT l_returnflag, n,
        |  CASE WHEN n >= 3 AND det > 0
        |    THEN (syd - b1 * s1d - b2 * s2d) / nd END AS b0,
        |  CASE WHEN n >= 3 AND det > 0 THEN b1 END AS b1,
        |  CASE WHEN n >= 3 AND det > 0 THEN b2 END AS b2
        |FROM bb""".stripMargin,

    // the exact 2×2 algebraic eigendecomposition replayed on the same
    // snapped moments; same orientation convention
    "q287_pca2" ->
      """WITH b AS (SELECT l_returnflag,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS x1,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS x2
        |  FROM lineitem WHERE l_quantity IS NOT NULL
        |    AND l_extendedprice IS NOT NULL),
        |m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(x1) AS s1, sum(x2) AS s2,
        |    sum(CAST(x1 * x1 AS DECIMAL(38,6))) AS s11_0,
        |    sum(CAST(x2 * x2 AS DECIMAL(38,6))) AS s22_0,
        |    sum(CAST(x1 * x2 AS DECIMAL(38,6))) AS s12_0
        |  FROM b GROUP BY 1),
        |c AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
        |    CAST(CAST(s11_0 - (s11_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s11,
        |    CAST(CAST(s22_0 - (s22_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s22,
        |    CAST(CAST(s12_0 - (s12_0 % 1) AS DECIMAL(38,0)) AS DOUBLE) AS s12
        |  FROM m),
        |g AS (SELECT *, nd * s11 - s1d * s1d AS c11,
        |    nd * s22 - s2d * s2d AS c22, nd * s12 - s1d * s2d AS c12
        |  FROM c),
        |e AS (SELECT *,
        |    (c11 + c22) / CAST(2 AS DOUBLE) +
        |      sqrt(((c11 - c22) / CAST(2 AS DOUBLE)) *
        |        ((c11 - c22) / CAST(2 AS DOUBLE)) + c12 * c12) AS l1,
        |    (c11 + c22) / CAST(2 AS DOUBLE) -
        |      sqrt(((c11 - c22) / CAST(2 AS DOUBLE)) *
        |        ((c11 - c22) / CAST(2 AS DOUBLE)) + c12 * c12) AS l2
        |  FROM g),
        |v AS (SELECT *,
        |    CASE WHEN c12 <> 0 THEN c12
        |      ELSE CASE WHEN c11 >= c22 THEN CAST(1 AS DOUBLE)
        |        ELSE CAST(0 AS DOUBLE) END END AS ev1,
        |    CASE WHEN c12 <> 0 THEN l1 - c11
        |      ELSE CASE WHEN c11 >= c22 THEN CAST(0 AS DOUBLE)
        |        ELSE CAST(1 AS DOUBLE) END END AS ev2
        |  FROM e),
        |w AS (SELECT *, sqrt(ev1 * ev1 + ev2 * ev2) AS nrm,
        |    CASE WHEN ev1 < 0 OR (ev1 = 0 AND ev2 < 0)
        |      THEN CAST(-1 AS DOUBLE) ELSE CAST(1 AS DOUBLE) END AS flip
        |  FROM v)
        |SELECT l_returnflag, n,
        |  CASE WHEN n >= 2 THEN l1 / (nd * (nd - CAST(1 AS DOUBLE))) END
        |    AS lambda1,
        |  CASE WHEN n >= 2 THEN l2 / (nd * (nd - CAST(1 AS DOUBLE))) END
        |    AS lambda2,
        |  CASE WHEN n >= 2 AND (l1 + l2) > 0 THEN l1 / (l1 + l2) END
        |    AS var_explained,
        |  CASE WHEN n >= 2 THEN flip * ev1 / nrm END AS v1,
        |  CASE WHEN n >= 2 THEN flip * ev2 / nrm END AS v2
        |FROM w""".stripMargin,

    // exact lower medians on the 1e-2 value grid (the weightedMedian
    // convention), MAD from the same machinery on |v - med|; the
    // 1.4826 consistency constant pinned via decimal-literal -> double
    "q289_robust_z" ->
      """WITH b AS (SELECT event_id, event_type, value,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |g AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |c1 AS (SELECT *, sum(c) OVER (PARTITION BY event_type
        |    ORDER BY v) AS cum, sum(c) OVER (PARTITION BY event_type)
        |    AS tot FROM g),
        |med AS (SELECT event_type, min(v) AS med FROM c1
        |  WHERE 2 * cum >= tot GROUP BY 1),
        |d AS (SELECT b.event_type, abs(b.v - med.med) AS dv FROM b
        |  JOIN med ON b.event_type = med.event_type),
        |g2 AS (SELECT event_type, dv, CAST(count(*) AS BIGINT) AS c
        |  FROM d GROUP BY 1, 2),
        |c2 AS (SELECT *, sum(c) OVER (PARTITION BY event_type
        |    ORDER BY dv) AS cum, sum(c) OVER (PARTITION BY event_type)
        |    AS tot FROM g2),
        |mad AS (SELECT event_type, min(dv) AS mad FROM c2
        |  WHERE 2 * cum >= tot GROUP BY 1)
        |SELECT b.event_id, b.event_type, b.value,
        |  CAST(med.med AS DOUBLE) AS median,
        |  CAST(mad.mad AS DOUBLE) AS mad,
        |  CASE WHEN mad.mad > 0 THEN CAST(b.v - med.med AS DOUBLE) /
        |    (CAST(1.4826 AS DOUBLE) * CAST(mad.mad AS DOUBLE)) END AS score
        |FROM b JOIN med ON b.event_type = med.event_type
        |JOIN mad ON b.event_type = mad.event_type""".stripMargin,

    // integer-cent window sums (exact in any engine), row-index x,
    // the same pinned closing chain per row
    "q290_rolling_slope" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT *, CAST(row_number() OVER win AS BIGINT) AS x
        |  FROM e WINDOW win AS (PARTITION BY user_id
        |    ORDER BY ts, event_id)),
        |w AS (SELECT user_id, event_id, yc,
        |    CAST(count(*) OVER f AS DOUBLE) AS n,
        |    CAST(sum(x) OVER f AS DOUBLE) AS sx,
        |    CAST(sum(yc) OVER f AS DOUBLE) AS sy,
        |    CAST(sum(x * yc) OVER f AS DOUBLE) AS sxy,
        |    CAST(sum(x * x) OVER f AS DOUBLE) AS sxx
        |  FROM r WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, CAST(yc AS DOUBLE) / 100.0 AS value,
        |  CASE WHEN (n * sxx - sx * sx) > 0
        |    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0
        |  END AS slope
        |FROM w""".stripMargin,

    // first-seen flag on the (key, value) partition + running sum on
    // the key partition — the standard sliding-distinct rewrite
    "q291_running_distinct" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE ts IS NOT NULL),
        |f AS (SELECT *, CASE WHEN event_type IS NOT NULL AND
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS fs
        |  FROM e)
        |SELECT user_id, event_id, event_type,
        |  CAST(sum(fs) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS distinct_so_far
        |FROM f""".stripMargin,

    // the q127 funnel chain with running MAX markers and the gap test
    // on exact epoch micros
    "q292_funnel_within" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |w1 AS (SELECT *, CASE WHEN event_type = 'view' THEN ts END
        |       AS q0 FROM e),
        |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND
        |         epoch_us(max(q0) OVER (PARTITION BY user_id ORDER BY ts))
        |           >= epoch_us(ts) - 3600000000
        |         THEN ts END AS q1 FROM w1),
        |w3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND
        |         epoch_us(max(q1) OVER (PARTITION BY user_id ORDER BY ts))
        |           >= epoch_us(ts) - 3600000000
        |         THEN ts END AS q2 FROM w2)
        |SELECT user_id AS actor, min(q0) AS step1_ts, min(q1) AS step2_ts,
        |  min(q2) AS step3_ts,
        |  CASE WHEN min(q2) IS NOT NULL THEN 3
        |       WHEN min(q1) IS NOT NULL THEN 2
        |       WHEN min(q0) IS NOT NULL THEN 1 ELSE 0 END AS stage
        |FROM w3 GROUP BY user_id""".stripMargin,

    // batch ≡ stream: the q281 prefix-sum identity in BIGINT cents is
    // the oracle for the incrementally-maintained state
    "q288_stream_cusum" ->
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
        |FROM m""".stripMargin,

    // BFS distance as min over the depth-bounded reachability CTE
    // (UNION-dedup keeps states finite); same co-purchase edge set
    // and %97 seed rule as the engine
    "q274_bfs_hops" ->
      """WITH RECURSIVE gi AS (SELECT DISTINCT l_orderkey AS g,
        |    l_partkey AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |gs AS (SELECT g, i FROM (SELECT g, i,
        |    count(*) OVER (PARTITION BY g) AS sz FROM gi) WHERE sz <= 8),
        |e AS (SELECT DISTINCT least(a.i, b.i) AS u, greatest(a.i, b.i) AS v
        |      FROM gs a JOIN gs b ON a.g = b.g AND a.i < b.i),
        |sym AS (SELECT u AS s, v AS t FROM e
        |        UNION ALL SELECT v, u FROM e),
        |seeds AS (SELECT DISTINCT s AS v FROM sym WHERE s % 97 = 0),
        |walk(v, d) AS (
        |  SELECT v, 0 FROM seeds
        |  UNION
        |  SELECT sym.t, walk.d + 1 FROM walk JOIN sym ON walk.v = sym.s
        |  WHERE walk.d < 3
        |)
        |SELECT CAST(v AS BIGINT) AS vertex, CAST(min(d) AS BIGINT) AS hops
        |FROM walk GROUP BY 1""".stripMargin,

    // the two rankings replayed as in q136; per shared item the
    // precomputed suffix-sum literal at max(rank, rank), round-12
    // decimal sum, (1-p) literal
    "q230_rbo" -> {
      val planes = graft.llm.Similarity.planesFor(6, 64)
      val bucketExpr = planes.zipWithIndex.map { case (pl, p) =>
        val arr = pl.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      val sfx = (1 to 10).map(m =>
        (m to 10).map(d => math.pow(0.9, d - 1) / d).sum)
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |bkt AS (SELECT vec_id, v, $bucketExpr AS b FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, b FROM bkt WHERE vec_id < 50),
         |ex AS (SELECT query_id, neighbor_id, rn FROM (
         |  SELECT qid AS query_id, e.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(v,v))) DESC,
         |      e.vec_id) AS rn
         |  FROM q JOIN e ON e.vec_id <> qid) WHERE rn <= 10),
         |ap AS (SELECT query_id, neighbor_id, rn FROM (
         |  SELECT qid AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,c.v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(c.v,c.v))) DESC,
         |      c.vec_id) AS rn
         |  FROM q JOIN bkt c ON q.b = c.b AND c.vec_id <> q.qid) WHERE rn <= 10),
         |jj AS (SELECT ex.query_id,
         |    CAST(round(($sfx)[greatest(ex.rn, ap.rn)], 12)
         |      AS DECIMAL(16,12)) AS contrib
         |  FROM ex JOIN ap USING (query_id, neighbor_id)),
         |s AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_overlap,
         |    sum(contrib) AS ts FROM jj GROUP BY 1),
         |base AS (SELECT DISTINCT query_id FROM ex)
         |SELECT base.query_id, coalesce(n_overlap, 0) AS n_overlap,
         |  ${1.0 - 0.9} * coalesce(CAST(ts AS DOUBLE), 0.0) AS rbo
         |FROM base LEFT JOIN s USING (query_id)""".stripMargin
    },

    // same ranking replay; rel = k+1 - exact rank, literal discount
    // and ideal-DCG arrays, round-12 decimal term sums
    "q231_ndcg" -> {
      val planes = graft.llm.Similarity.planesFor(6, 64)
      val bucketExpr = planes.zipWithIndex.map { case (pl, p) =>
        val arr = pl.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      val disc = (1 to 10)
        .map(d => 1.0 / (math.log(d + 1.0) / math.log(2.0)))
      val discL = disc.mkString("[", ", ", "]")
      val idealL = disc.zipWithIndex
        .scanLeft(0.0) { case (acc, (dc, i)) => acc + (10 - i) * dc }
        .tail.mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |bkt AS (SELECT vec_id, v, $bucketExpr AS b FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, b FROM bkt WHERE vec_id < 50),
         |ex AS (SELECT query_id, neighbor_id, rn FROM (
         |  SELECT qid AS query_id, e.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(v,v))) DESC,
         |      e.vec_id) AS rn
         |  FROM q JOIN e ON e.vec_id <> qid) WHERE rn <= 10),
         |ap AS (SELECT query_id, neighbor_id, rn FROM (
         |  SELECT qid AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,c.v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(c.v,c.v))) DESC,
         |      c.vec_id) AS rn
         |  FROM q JOIN bkt c ON q.b = c.b AND c.vec_id <> q.qid) WHERE rn <= 10),
         |terms AS (SELECT ap.query_id,
         |    CAST(round(CAST(CASE WHEN ex.rn IS NOT NULL
         |        THEN 11 - ex.rn ELSE 0 END AS DOUBLE)
         |      * ($discL)[ap.rn], 12) AS DECIMAL(18,12)) AS term
         |  FROM ap LEFT JOIN ex USING (query_id, neighbor_id)),
         |d AS (SELECT query_id, sum(term) AS dcg0 FROM terms GROUP BY 1),
         |ne AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM ex GROUP BY 1)
         |SELECT ne.query_id, n_exact,
         |  coalesce(CAST(dcg0 AS DOUBLE), 0.0) AS dcg,
         |  ($idealL)[CAST(n_exact AS INT)] AS idcg,
         |  CASE WHEN ($idealL)[CAST(n_exact AS INT)] > 0
         |    THEN coalesce(CAST(dcg0 AS DOUBLE), 0.0)
         |      / ($idealL)[CAST(n_exact AS INT)] END AS ndcg
         |FROM ne LEFT JOIN d USING (query_id)""".stripMargin
    },

    // same LSH/brute ranking replay as q231; binary relevance, running
    // hit count per approx rank, round-12 decimal precision terms, one
    // closing division by min(n_exact, k)
    "q298_map" -> {
      val planes = graft.llm.Similarity.planesFor(6, 64)
      val bucketExpr = planes.zipWithIndex.map { case (pl, p) =>
        val arr = pl.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |bkt AS (SELECT vec_id, v, $bucketExpr AS b FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, b FROM bkt WHERE vec_id < 50),
         |ex AS (SELECT query_id, neighbor_id, rn FROM (
         |  SELECT qid AS query_id, e.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(v,v))) DESC,
         |      e.vec_id) AS rn
         |  FROM q JOIN e ON e.vec_id <> qid) WHERE rn <= 10),
         |ap AS (SELECT query_id, neighbor_id, rn FROM (
         |  SELECT qid AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,c.v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(c.v,c.v))) DESC,
         |      c.vec_id) AS rn
         |  FROM q JOIN bkt c ON q.b = c.b AND c.vec_id <> q.qid) WHERE rn <= 10),
         |hits AS (SELECT ap.query_id, ap.rn,
         |    CASE WHEN ex.rn IS NOT NULL THEN 1 ELSE 0 END AS rel
         |  FROM ap LEFT JOIN ex USING (query_id, neighbor_id)),
         |cum AS (SELECT query_id, rn, rel,
         |    sum(rel) OVER (PARTITION BY query_id ORDER BY rn) AS cumrel
         |  FROM hits),
         |terms AS (SELECT query_id,
         |    CAST(round(CAST(rel * cumrel AS DOUBLE) / CAST(rn AS DOUBLE),
         |      12) AS DECIMAL(18,12)) AS term FROM cum),
         |s AS (SELECT query_id, sum(term) AS s0 FROM terms GROUP BY 1),
         |ne AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM ex GROUP BY 1)
         |SELECT ne.query_id, n_exact,
         |  coalesce(CAST(s0 AS DOUBLE), 0.0)
         |    / CAST(least(n_exact, 10) AS DOUBLE) AS ap
         |FROM ne LEFT JOIN s USING (query_id)""".stripMargin
    },

    // the estimates are sketch arithmetic; hash-gated: full row
    // coverage (n_seen == rows) and the rank-error contract per
    // quantile — all engine-independent claims
    "q229_stream_quantiles" ->
      """SELECT CAST(event_type AS VARCHAR) AS key,
        |  CAST(count(*) AS BIGINT) AS n_seen,
        |  TRUE AS complete, TRUE AS ok_p25, TRUE AS ok_p50,
        |  TRUE AS ok_p75
        |FROM events
        |WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  AND ts IS NOT NULL
        |GROUP BY 1""".stripMargin
  )
}

/** q293 acf oracle SQL, shared: q307 (pacf) embeds it as a CTE. */
private[graft] object AcfOracleSql {
  val sql: String =
    """WITH b AS (SELECT event_type, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |l AS (SELECT event_type, xc,
        |    lag(xc, 1) OVER w AS y1, lag(xc, 2) OVER w AS y2,
        |    lag(xc, 3) OVER w AS y3, lag(xc, 4) OVER w AS y4,
        |    lag(xc, 5) OVER w AS y5
        |  FROM b WINDOW w AS (PARTITION BY event_type
        |    ORDER BY ts, event_id)),
        |p AS (
        |  SELECT event_type, 1 AS lag, xc, y1 AS yc FROM l
        |    WHERE y1 IS NOT NULL
        |  UNION ALL SELECT event_type, 2, xc, y2 FROM l
        |    WHERE y2 IS NOT NULL
        |  UNION ALL SELECT event_type, 3, xc, y3 FROM l
        |    WHERE y3 IS NOT NULL
        |  UNION ALL SELECT event_type, 4, xc, y4 FROM l
        |    WHERE y4 IS NOT NULL
        |  UNION ALL SELECT event_type, 5, xc, y5 FROM l
        |    WHERE y5 IS NOT NULL),
        |m AS (SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
        |    sum(xc) AS sx2, sum(yc) AS sy2, sum(xc * yc) AS sxy4,
        |    sum(xc * xc) AS sxx4, sum(yc * yc) AS syy4
        |  FROM p GROUP BY 1, 2),
        |f AS (SELECT event_type, lag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx2 AS DOUBLE) / 100.0 AS sx,
        |    CAST(sy2 AS DOUBLE) / 100.0 AS sy,
        |    CAST(sxy4 AS DOUBLE) / 10000.0 AS sxy,
        |    CAST(sxx4 AS DOUBLE) / 10000.0 AS sxx,
        |    CAST(syy4 AS DOUBLE) / 10000.0 AS syy
        |  FROM m)
        |SELECT event_type, lag, n,
        |  CASE WHEN n >= 3 AND nd * sxx - sx * sx > 0
        |        AND nd * syy - sy * sy > 0
        |    THEN (nd * sxy - sx * sy) /
        |      (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))
        |  END AS corr
        |FROM f""".stripMargin
}
