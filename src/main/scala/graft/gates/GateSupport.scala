package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Parquet, Tables}

/** What the gate files share: the table reader, the exact-sum and
 *  state-partition conventions, the scratch-dir, ordered-feed and
 *  loopback-HTTP fixtures, the oracles that need a gate's own run
 *  (with the values those runs stash), and the CTEs that several
 *  oracles embed. */
private[graft] object GateSupport {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** The survival subjects of q218, q299, q374 and q393: per user,
   *  the first and last event day; `duration` is the days between
   *  them, `observed` (a churn) holds when the last day is at least 7
   *  days before the corpus edge (later users are censored), and
   *  `cohort` is the signup month. The per-user relation is
   *  checkpointed: the corpus-edge max reads it too, and without the
   *  checkpoint the events scan and user aggregate run twice. */
  def survivalSubjects(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_d"),
        max(to_date(col("ts"))).as("last_d"))
      .localCheckpoint(false)
    val mx = per.agg(max(col("last_d")).as("__mx"))
    per.crossJoin(broadcast(mx))
      .withColumn("duration",
        datediff(col("last_d"), col("first_d")).cast("long"))
      .withColumn("observed", datediff(col("__mx"), col("last_d")) >= 7)
      .withColumn("cohort", date_trunc("month", col("first_d")).cast("date"))
  }

  /** Exact sum of a 2-decimal double column, as double. */
  def dsum(c: String): org.apache.spark.sql.Column =
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
  def gateStateParts: Option[Int] =
    Some(sys.props.get("graft.gate.statePartitions")
      .flatMap(_.toIntOption).getOrElse(4))

  /** Temp dir for gate plumbing (stream sinks, change feeds, the
   *  source/sink roundtrips),
   *  registered for RECURSIVE deletion at JVM exit through Hadoop's
   *  `FileSystem.deleteOnExit`. Gates return LAZY frames that read
   *  these dirs when the caller finally acts, so eager cleanup is
   *  impossible — but without exit-time cleanup every bench iteration
   *  leaves full table copies in /tmp (the on-disk sibling of the
   *  in-JVM litter Bench.isolate() exists to clear). */
  def gateTempDir(s: SparkSession, prefix: String): String = {
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
  def orderedFeed(s: SparkSession, gate: String, ev: DataFrame,
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
    val schema = Parquet.read(s, s"$tmp/in").schema
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
  def jsonlPageServer(rows: Array[String],
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

  /** Centroids the q39 run trained, for oracle inlining (bit-exact:
   *  `Double.toString` round-trips and DuckDB parses to the nearest
   *  double). Empty until q39 runs → q39 gets a rows-only check.
   *  Holds the LAST run's centroids: valid because Verify processes
   *  one scale-factor directory per invocation (running q39 against a
   *  second dataset in the same JVM would overwrite them). */
  @volatile var q39Centroids: Seq[Array[Double]] = Nil

  /** q68's trained centroids (same stash-for-oracle mechanism as
   *  [[q39Centroids]] — Verify dumps oracleSql AFTER the queries run). */
  @volatile var q68Centroids: Seq[Array[Double]] = Nil

  /** q140's trained centroids (same stash-for-oracle mechanism as
   *  [[q39Centroids]]). */
  @volatile var q140Centroids: Seq[Array[Double]] = Nil

  /** Prototype-prune oracle: the SAME trained centroids inlined;
   *  assignment replays the CentroidRanks sequential sqdist fold (the
   *  q39/q68 pattern), prototypicality the list_dot_product cosine,
   *  the drop rule an integer cross-multiplication. */
  def q140OracleSql(cents: Seq[Array[Double]]): String = {
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
  @volatile var q85Thresholds: Map[String, Long] = Map.empty

  /** Temperature-mix oracle: the SAME integer thresholds the Spark
   *  side derived, inlined — the driver replays only the md5 rule. */
  def q85OracleSql(th: Map[String, Long]): String = {
    val cases = th.toSeq.sorted
      .map { case (k, t) => s"WHEN '$k' THEN $t" }.mkString(" ")
    s"""SELECT * FROM documents
       |WHERE ('0x'||substr(md5(doc_id::VARCHAR || 'temp1'),1,8))::BIGINT % 10000
       |  < CASE lang $cases ELSE NULL END""".stripMargin
  }

  /** q123's integer mixture thresholds (`round(frac·denom)`, same
   *  stash-for-oracle mechanism as [[q85Thresholds]]). */
  @volatile var q123Thresholds: Map[String, Long] = Map.empty

  /** Token-mixture oracle: the SAME integer thresholds the Spark side
   *  derived from the token-budget fractions, inlined — the driver
   *  replays only the md5 rule + the token count. */
  def q123OracleSql(th: Map[String, Long]): String = {
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
  def q68OracleSql(cents: Seq[Array[Double]]): String = {
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
  def q39OracleSql(cents: Seq[Array[Double]]): String = {
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
  val minhashCtes: String =
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
  val componentsCtes: String =
    """pairs AS (SELECT id1, id2 FROM v WHERE jaccard >= 0.5),
      |e AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2 AS a, id1 AS b FROM pairs),
      |reach AS (
      |  SELECT a AS node, a AS r FROM e
      |  UNION
      |  SELECT reach.node, e.b AS r FROM reach JOIN e ON reach.r = e.a
      |),
      |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)""".stripMargin

  /** q293 acf oracle SQL, shared: q307 (pacf) embeds it as a CTE. */
  object AcfOracleSql {
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
}
