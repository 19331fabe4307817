package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownLimit, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * DSv2 form of the HTTP source (`spark.read.format("graft-http")`) for
 * the PRECOMPUTABLE-address case — offset/page pagination with a known
 * page count (reference: goetl `readers/http.go:256-303`). It is a
 * planned table: page fetches become InputPartitions (so the
 * scheduler owns locality, retry and task parallelism), LIMIT prunes
 * whole pages at PLANNING time, and column pruning reaches the
 * Jackson parse (unmatched fields are skipped, not
 * parsed-then-dropped). Sequential cursor/link walks
 * stay on [[Http.read]] — a planner cannot parallelize a chain where
 * each page addresses the next.
 *
 * Options:
 *   - `url` (required unless `urls`): base URL.
 *   - `pagination`: `offset` (default) or `page`.
 *   - `pages` (required with `url`): total page count to plan.
 *   - `pageSize` (offset: required, also the `limit` param; page:
 *     optional — when present it lets LIMIT prune trailing pages).
 *   - `offsetParam`/`limitParam`/`pageParam`: parameter names.
 *   - `urls`: explicit newline-separated page URLs (overrides all of
 *     the above).
 *   - `partitionPages`: pages per input partition (default 1).
 *   - `format`: `jsonl` (default) | `json` envelope with `dataPath`.
 *   - `mode`: PERMISSIVE (default) | DROPMALFORMED | FAILFAST.
 *   - auth: `bearerToken`, or `basicUser`+`basicPassword`, or
 *     `apiKeyHeader`+`apiKeyValue`.
 *   - `timeoutMs`, `maxAttempts`, `baseBackoffMs`: transport/retry.
 *   - `ratePerSecond`: token-bucket rate limit PER TASK (a cluster
 *     runs `partitions` tasks concurrently — size accordingly).
 *   - `schemaProbePages`: pages fetched driver-side for schema
 *     inference (default 1); supply `.schema(...)` to skip the probe
 *     entirely (`supportsExternalMetadata`).
 *
 * The executor parse stack is Catalyst's own JSON parser
 * ([[org.apache.spark.sql.graft.JsonRows]]), so results are
 * bit-identical to `spark.read.json` over the same bodies.
 */
class HttpTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-http"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = HttpV2.Conf(options.asCaseSensitiveMap().asScala.toMap)
    val spark = SparkSession.active
    val probe = conf.urls.take(conf.schemaProbePages)
    // one bounded driver-side fetch; records go through the SAME
    // inference spark.read.json uses, so executor parses agree
    val records = probe.flatMap(u => Http.extractRecords(
      Http.fetchWithRetry(conf.fetcher(), u, conf.headers, conf.retry).body,
      conf.format))
    import spark.implicits._
    spark.read.json(spark.createDataset(records)).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new HttpTable(schema, HttpV2.Conf(properties.asScala.toMap))
}

private[sources] final class HttpTable(schema: StructType, conf: HttpV2.Conf)
    extends Table with SupportsRead {
  override def name(): String = s"graft-http(${conf.display})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HttpScanBuilder(schema, conf)
}

private[sources] final class HttpScanBuilder(tableSchema: StructType,
                                             conf: HttpV2.Conf)
    extends ScanBuilder with SupportsPushDownLimit
    with SupportsPushDownRequiredColumns {
  private var required: StructType = tableSchema
  private var limit: Option[Int] = None

  // NOT fully pushed (a page may return fewer than pageSize records,
  // and page-param APIs only declare their size via the option), so
  // Spark keeps its LocalLimit on top — the pushdown's value is
  // planning fewer page fetches, not replacing the limit operator.
  override def pushLimit(l: Int): Boolean = { limit = Some(l); false }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Spark hands the subset in table-schema order; empty projection
    // (e.g. count(*)) still needs SOME schema to drive row counts
    required = requiredSchema

  override def build(): Scan = {
    val planned = conf.urls
    val kept = (limit, conf.pageSize) match {
      // Pruning assumes every kept page yields its full pageSize rows.
      // DROPMALFORMED breaks that (dropped rows shrink pages), so the
      // prune would silently under-fill the limit while later pages
      // still hold data — skip it; the retained LocalLimit still cuts.
      case (Some(_), Some(_)) if conf.mode.equalsIgnoreCase("DROPMALFORMED") =>
        planned
      case (Some(l), Some(ps)) =>
        // each page yields AT MOST pageSize records (the API's limit
        // param / declared page size), so ceil(l/ps) pages suffice for
        // full pages; keep ONE extra page so a single short page
        // mid-feed (an API under-filling its declared size) cannot
        // starve the limit — the LocalLimit above discards the excess.
        planned.take((((l.toLong + ps - 1) / ps) + 1).toInt.max(1))
      case _ => planned
    }
    new HttpScan(required, kept, conf)
  }
}

private[sources] final class HttpScan(readSchema0: StructType,
                                      urls: Seq[String], conf: HttpV2.Conf)
    extends Scan with Batch {
  override def readSchema(): StructType = readSchema0
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-http ${urls.size} pages, ${conf.partitionPages} pages/partition"

  override def planInputPartitions(): Array[InputPartition] =
    urls.grouped(conf.partitionPages)
      .map(chunk => HttpPagesPartition(chunk.toArray): InputPartition)
      .toArray

  override def createReaderFactory(): PartitionReaderFactory =
    HttpReaderFactory(readSchema0, conf.headers, conf.retry, conf.format,
      conf.timeoutMs, conf.mode, conf.ratePerSecond,
      SparkSession.active.sessionState.conf.sessionLocalTimeZone)
}

private[sources] final case class HttpPagesPartition(urls: Array[String])
    extends InputPartition

/** All fields are plain serializable values — this factory ships to
 *  executors; the fetcher, rate limiter and Jackson parser are built
 *  per reader ON the executor. */
private[sources] final case class HttpReaderFactory(
    schema: StructType, headers: Map[String, String],
    retry: Http.RetryConfig, format: Http.BodyFormat,
    timeoutMs: Long, mode: String, ratePerSecond: Option[Double],
    timeZoneId: String) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[HttpPagesPartition]
    new PartitionReader[InternalRow] {
      private val fetcher = Http.javaNetFetcher(timeoutMs)
      private val limiter = ratePerSecond.map(new Http.RateLimiter(_))
      private val parse =
        org.apache.spark.sql.graft.JsonRows.parser(schema, timeZoneId, mode)
      private val rows: Iterator[InternalRow] =
        part.urls.iterator.flatMap { u =>
          Http.extractRecords(
            Http.fetchWithRetry(fetcher, u, headers, retry, limiter = limiter).body,
            format).iterator.flatMap(parse)
        }
      private var row: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { row = rows.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

private[sources] object HttpV2 {

  /** Parsed, validated option set; everything derived is serializable
   *  (the Conf itself stays driver-side — only primitives ship). */
  final case class Conf(opts: Map[String, String]) {
    private val ci = opts.map { case (k, v) => k.toLowerCase -> v }
    private def get(k: String): Option[String] = ci.get(k.toLowerCase)
    private def req(k: String): String = get(k).getOrElse(
      throw new IllegalArgumentException(s"graft-http: option '$k' is required"))

    val pageSize: Option[Int] = get("pageSize").map(_.toInt)
    val partitionPages: Int = get("partitionPages").map(_.toInt).getOrElse(1)
    val schemaProbePages: Int = get("schemaProbePages").map(_.toInt).getOrElse(1)
    val timeoutMs: Long = get("timeoutMs").map(_.toLong).getOrElse(30000L)
    val mode: String = get("mode").getOrElse("PERMISSIVE")
    val ratePerSecond: Option[Double] = get("ratePerSecond").map(_.toDouble)

    val retry: Http.RetryConfig = Http.RetryConfig(
      maxAttempts = get("maxAttempts").map(_.toInt).getOrElse(3),
      baseBackoffMs = get("baseBackoffMs").map(_.toLong).getOrElse(1000L))

    val headers: Map[String, String] = {
      val auth: Http.Auth =
        if (get("bearerToken").isDefined) Http.Bearer(req("bearerToken"))
        else if (get("basicUser").isDefined)
          Http.BasicAuth(req("basicUser"), req("basicPassword"))
        else if (get("apiKeyHeader").isDefined)
          Http.ApiKey(req("apiKeyHeader"), req("apiKeyValue"))
        else Http.NoAuth
      auth.headers
    }

    val format: Http.BodyFormat = get("format").map(_.toLowerCase) match {
      case None | Some("jsonl") => Http.JsonLines
      case Some("json") => Http.JsonEnvelope(get("dataPath").getOrElse(""))
      case Some(other) => throw new IllegalArgumentException(
        s"graft-http: format '$other' not supported (jsonl | json); " +
          "CSV pages stay on Http.read")
    }

    /** The planned page addresses — the whole point of the DSv2 form:
     *  known upfront, so they become partitions instead of a walk. */
    val urls: Seq[String] = get("urls") match {
      case Some(lines) => lines.split('\n').map(_.trim).filter(_.nonEmpty).toSeq
      case None =>
        val base = req("url")
        val n = req("pages").toInt
        def add(u: String, k: String, v: String) =
          u + (if (u.contains("?")) "&" else "?") + k + "=" + v
        get("pagination").map(_.toLowerCase).getOrElse("offset") match {
          case "offset" =>
            val ps = pageSize.getOrElse(throw new IllegalArgumentException(
              "graft-http: offset pagination needs 'pageSize'"))
            val op = get("offsetParam").getOrElse("offset")
            val lp = get("limitParam").getOrElse("limit")
            (0 until n).map(p =>
              add(add(base, op, (p.toLong * ps).toString), lp, ps.toString))
          case "page" =>
            val pp = get("pageParam").getOrElse("page")
            (0 until n).map(p => add(base, pp, (p + 1).toString))
          case other => throw new IllegalArgumentException(
            s"graft-http: pagination '$other' not plannable (offset | page); " +
              "cursor/link walks stay on Http.read")
        }
    }

    def fetcher(): Http.Fetcher = Http.javaNetFetcher(timeoutMs)
    def display: String = get("url").orElse(get("urls").map(_.takeWhile(_ != '\n')))
      .getOrElse("?")
  }
}
