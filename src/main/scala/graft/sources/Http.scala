package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.annotation.tailrec

/**
 * Paginated HTTP API source — the reference's HTTPReader
 * (goetl `readers/http.go:256-790`): offset / page / cursor
 * pagination, bearer/basic/api-key auth, bounded retries with
 * exponential backoff, 429/5xx-aware.
 *
 * Architecture: the page WALK is driver-side (pagination is inherently
 * sequential — each page may determine the next), but page BODIES land
 * in a Dataset and all parsing/flattening runs distributed via
 * `spark.read.json`. For APIs with precomputable page addresses use
 * the DSv2 `graft-http` source ([[HttpTableProvider]]), which plans
 * page fetches as input partitions across the cluster.
 *
 * The transport is pluggable ([[Http.Fetcher]]) so pagination/retry
 * logic is unit-testable without a network (this environment has no
 * egress; [[Http.javaNetFetcher]] is the production default).
 */
object Http {

  final case class Response(status: Int, body: String,
                            headers: Map[String, String] = Map.empty)

  /** Transport abstraction; must be deterministic per URL for retries. */
  trait Fetcher extends Serializable {
    def fetch(url: String, headers: Map[String, String]): Response
  }

  /** Production transport on java.net.http (JDK built-in, no deps).
   *  ONE HttpClient per fetcher instance, not per request: HttpClient
   *  is thread-safe and pools connections, so a thousand-page walk
   *  reuses keep-alive sockets instead of a TCP+TLS handshake per
   *  page. Lazy + transient: the client is rebuilt after
   *  deserialization on an executor, never serialized. */
  def javaNetFetcher(timeoutMs: Long = 30000): Fetcher = new Fetcher {
    @transient private lazy val client = java.net.http.HttpClient.newHttpClient()
    def fetch(url: String, headers: Map[String, String]): Response = {
      var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(timeoutMs))
      headers.foreach { case (k, v) => b = b.header(k, v) }
      val resp = client.send(b.GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      import scala.jdk.CollectionConverters._
      Response(resp.statusCode(), resp.body(),
        resp.headers().map().asScala.map { case (k, v) =>
          k -> v.asScala.mkString(",") }.toMap)
    }
  }

  /** Auth modes (reference `readers/http.go:558-587`). */
  sealed trait Auth { def headers: Map[String, String] }
  case object NoAuth extends Auth { def headers = Map.empty }
  final case class Bearer(token: String) extends Auth {
    def headers = Map("Authorization" -> s"Bearer $token")
  }
  final case class BasicAuth(user: String, password: String) extends Auth {
    def headers = Map("Authorization" -> ("Basic " + java.util.Base64.getEncoder
      .encodeToString(s"$user:$password".getBytes("UTF-8"))))
  }
  final case class ApiKey(header: String, key: String) extends Auth {
    def headers = Map(header -> key)
  }

  /** Pagination strategies (reference `readers/http.go:408-461`, `:724-790`). */
  sealed trait Pagination
  /** `?offset=N&limit=page` — stop on short/empty page. */
  final case class Offset(offsetParam: String = "offset",
                          limitParam: String = "limit",
                          pageSize: Int = 100) extends Pagination
  /** `?page=N` (1-based) — stop on empty page. */
  final case class Page(pageParam: String = "page") extends Pagination
  /** Opaque cursor extracted from the body by `nextCursor`. */
  final case class Cursor(cursorParam: String = "cursor",
                          nextCursor: String => Option[String]) extends Pagination
  /** RFC-5988 `Link: <url>; rel="next"` header pagination (GitHub-style). */
  case object LinkHeader extends Pagination
  /** Full next-page URL extracted from the BODY (e.g. a `next` field);
   *  `None` ends the walk. */
  final case class NextUrl(next: String => Option[String]) extends Pagination

  /** Parse the `next` target from an RFC-5988 Link header value:
   *  entries split on commas, and `rel="next"` may appear anywhere
   *  among an entry's parameters (exact token — `next-archive` does
   *  not match). */
  def nextLink(headers: Map[String, String]): Option[String] =
    headers.collectFirst { case (k, v) if k.equalsIgnoreCase("link") => v }
      .flatMap { v =>
        v.split(",").iterator.map(_.trim).flatMap { entry =>
          val url = "^<([^>]+)>".r.findFirstMatchIn(entry).map(_.group(1))
          val isNext = entry.split(";").drop(1)
            .exists(p => p.trim.matches("rel=\"?next\"?"))
          if (isNext) url else None
        }.nextOption()
      }

  final case class RetryConfig(maxAttempts: Int = 3, baseBackoffMs: Long = 1000,
                               sleeper: Long => Unit = Thread.sleep)

  /**
   * Token-bucket request rate limiter (reference limiter,
   * `readers/http.go` RateLimit option): at most `permitsPerSecond`
   * acquisitions per second, blocking callers until their slot.
   * Injectable clock/sleeper for deterministic tests. On executors
   * each task gets its own deserialized copy, so the limit is per-task
   * there — size it as aggregate/parallelism.
   */
  final class RateLimiter(permitsPerSecond: Double,
                          nowNs: () => Long = () => System.nanoTime(),
                          sleeper: Long => Unit = Thread.sleep) extends Serializable {
    require(permitsPerSecond > 0, "permitsPerSecond must be > 0")
    private val intervalNs = (1e9 / permitsPerSecond).toLong
    private var nextFreeNs = Long.MinValue
    def acquire(): Unit = {
      val waitMs = synchronized {
        val now = nowNs()
        if (nextFreeNs == Long.MinValue) nextFreeNs = now
        val wait = nextFreeNs - now
        nextFreeNs = math.max(now, nextFreeNs) + intervalNs
        if (wait > 0) wait / 1000000 else 0L
      }
      if (waitMs > 0) sleeper(waitMs)
    }
  }

  /** Terminal non-2xx response: pagination must NOT silently treat an
   *  auth failure or exhausted retry budget as end-of-data. */
  final case class HttpStatusException(status: Int, url: String, bodyPrefix: String)
    extends RuntimeException(s"HTTP $status from $url: $bodyPrefix")

  /** Retry with exponential backoff on 429/5xx (reference
   *  `readers/http.go:464-501`); each attempt takes a rate-limit permit. */
  @tailrec
  def fetchWithRetry(fetcher: Fetcher, url: String, headers: Map[String, String],
                     retry: RetryConfig, attempt: Int = 1,
                     limiter: Option[RateLimiter] = None): Response = {
    limiter.foreach(_.acquire())
    val r =
      try fetcher.fetch(url, headers)
      catch {
        case e: Exception if attempt < retry.maxAttempts => Response(-1, e.getMessage)
      }
    if ((r.status == 429 || r.status >= 500 || r.status < 0) && attempt < retry.maxAttempts) {
      retry.sleeper(retry.baseBackoffMs * (1L << (attempt - 1)))
      fetchWithRetry(fetcher, url, headers, retry, attempt + 1, limiter)
    } else r
  }

  /** Response body formats (reference `readers/http.go:590-721`). */
  sealed trait BodyFormat
  /** One JSON record per line (the default). */
  case object JsonLines extends BodyFormat
  /** A single JSON document; records live at the dotted `dataPath`
   *  (e.g. `"data.items"` for `{"data":{"items":[…]}}` envelopes —
   *  reference `readers/http.go:680-702`). Empty path = root; an array
   *  yields its elements, any other node a single record; a missing
   *  path yields no records (end of pagination). */
  final case class JsonEnvelope(dataPath: String = "") extends BodyFormat
  /** CSV pages; with `header` each page repeats the header line, which
   *  is stripped from every page after the schema is taken from the
   *  first (reference `readers/http.go:590-637`). Limitation: pages
   *  split on raw newlines, so quoted fields must not EMBED newlines
   *  (normal for API-paged CSV; use a file-based source for full
   *  RFC-4180 payloads). */
  final case class CsvPages(header: Boolean = true, delimiter: String = ",") extends BodyFormat

  /** Shared (thread-safe after config) JSON mapper for envelope parsing. */
  private lazy val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Extract individual records (as strings) from one page body. */
  def extractRecords(body: String, format: BodyFormat): Seq[String] = format match {
    case JsonLines => body.split("\r?\n").toSeq.filter(_.trim.nonEmpty)
    case CsvPages(_, _) => body.split("\r?\n").toSeq.filter(_.trim.nonEmpty)
    case JsonEnvelope(path) =>
      var node = jsonMapper.readTree(body)
      if (path.nonEmpty)
        path.split("\\.").foreach(seg => node = if (node == null) null else node.get(seg))
      if (node == null || node.isNull) Seq.empty
      else if (node.isArray)
        (0 until node.size).map(i => jsonMapper.writeValueAsString(node.get(i)))
      else Seq(jsonMapper.writeValueAsString(node))
  }

  private def addParam(url: String, k: String, v: String): String =
    url + (if (url.contains("?")) "&" else "?") + k + "=" + v

  /** Resolve a possibly-relative next-page URL against the base. */
  private def resolve(base: String, next: String): String =
    try java.net.URI.create(base).resolve(next).toString
    catch { case _: IllegalArgumentException => next }

  /**
   * Walk all pages; returns raw page bodies. Driver-side by necessity
   * (each page can gate the next); bounded by `maxPages`.
   *
   * A terminal non-2xx response (401/403/404, or 429/5xx after the
   * retry budget) THROWS [[HttpStatusException]] instead of silently
   * truncating the data — unless its status is listed in
   * `endStatuses` (for APIs that signal end-of-data with e.g. 404).
   */
  def fetchPages(baseUrl: String, pagination: Pagination,
                 auth: Auth = NoAuth,
                 fetcher: Fetcher,
                 retry: RetryConfig = RetryConfig(),
                 maxPages: Int = 1000,
                 isEmpty: String => Boolean = b => b.trim.isEmpty || b.trim == "[]",
                 endStatuses: Set[Int] = Set.empty,
                 limiter: Option[RateLimiter] = None): Seq[String] = {
    val out = Seq.newBuilder[String]
    var stop = false
    var page = 0
    var cursor: Option[String] = None
    var nextUrl: Option[String] = Some(baseUrl)
    while (!stop && page < maxPages) {
      val url = pagination match {
        case Offset(op, lp, size) =>
          addParam(addParam(baseUrl, op, (page * size).toString), lp, size.toString)
        case Page(pp) => addParam(baseUrl, pp, (page + 1).toString)
        case Cursor(cp, _) =>
          cursor.fold(baseUrl)(c => addParam(baseUrl, cp, c))
        case LinkHeader | NextUrl(_) => nextUrl.get
      }
      val resp = fetchWithRetry(fetcher, url, auth.headers, retry, limiter = limiter)
      if (endStatuses.contains(resp.status)) stop = true
      else if (resp.status < 200 || resp.status > 299)
        throw HttpStatusException(resp.status, url, resp.body.take(200))
      else if (isEmpty(resp.body)) stop = true
      else {
        out += resp.body
        pagination match {
          case Cursor(_, next) =>
            cursor = next(resp.body)
            if (cursor.isEmpty) stop = true
          case LinkHeader =>
            nextUrl = nextLink(resp.headers).map(resolve(baseUrl, _))
            if (nextUrl.isEmpty) stop = true
          case NextUrl(next) =>
            nextUrl = next(resp.body).map(resolve(baseUrl, _))
            if (nextUrl.isEmpty) stop = true
          case _ => ()
        }
        page += 1
      }
    }
    out.result()
  }

  /** Paged fetch → DataFrame. Record extraction honors `format`
   *  (JSONL lines, enveloped JSON at a dotted data path, or CSV
   *  pages); parsing and flattening run distributed via
   *  `spark.read.json`/`csv` over the extracted records. */
  def read(spark: SparkSession, baseUrl: String, pagination: Pagination,
           auth: Auth = NoAuth,
           fetcher: Fetcher,
           retry: RetryConfig = RetryConfig(),
           maxPages: Int = 1000,
           format: BodyFormat = JsonLines,
           endStatuses: Set[Int] = Set.empty,
           limiter: Option[RateLimiter] = None): DataFrame = {
    import spark.implicits._
    // Pagination stops when a page yields no records — for envelopes
    // that means an EMPTY items array, not an empty body.
    val bodies = fetchPages(baseUrl, pagination, auth, fetcher, retry, maxPages,
      isEmpty = b => extractRecords(b, format).isEmpty,
      endStatuses = endStatuses, limiter = limiter)
    format match {
      case JsonLines | JsonEnvelope(_) =>
        // One dataset element per JSON record: spark.read.json treats
        // each element as a single document.
        spark.read.json(spark.createDataset(bodies.flatMap(extractRecords(_, format))))
      case CsvPages(header, delim) =>
        val pages = bodies.map(extractRecords(_, format))
        if (pages.isEmpty) spark.emptyDataFrame // zero pages: no schema to offer
        else if (header) {
          val cols = pages.head.head.split(java.util.regex.Pattern.quote(delim), -1)
            .map(_.trim)
          val data = pages.flatMap(_.drop(1)) // each page repeats the header
          spark.read.option("delimiter", delim)
            .csv(spark.createDataset(data)).toDF(cols.toIndexedSeq: _*)
        } else {
          spark.read.option("delimiter", delim)
            .csv(spark.createDataset(pages.flatten))
        }
    }
  }
}
