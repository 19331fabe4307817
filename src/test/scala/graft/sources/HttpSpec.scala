package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class HttpSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Serves 3 pages of JSONL then empties; records every URL. */
  private class FakeApi extends Http.Fetcher {
    val urls = collection.mutable.Buffer.empty[String]
    def fetch(url: String, headers: Map[String, String]): Http.Response = {
      urls += url
      val offset = "offset=(\\d+)".r.findFirstMatchIn(url).map(_.group(1).toInt).getOrElse(0)
      if (offset >= 6) Http.Response(200, "")
      else Http.Response(200,
        (offset until offset + 2).map(i => s"""{"id":$i,"v":"row$i"}""").mkString("\n"))
    }
  }

  test("offset pagination walks pages until empty and parses distributed") {
    val api = new FakeApi
    val df = Http.read(spark, "http://api/items",
      Http.Offset(pageSize = 2), fetcher = api, maxPages = 10)
    assert(df.count() == 6)
    assert(api.urls.head == "http://api/items?offset=0&limit=2")
    assert(api.urls.size == 4) // 3 full pages + 1 empty
  }

  test("cursor pagination follows body-provided cursors") {
    val fetcher = new Http.Fetcher {
      def fetch(url: String, headers: Map[String, String]): Http.Response =
        if (!url.contains("cursor=")) Http.Response(200, """{"id":1}""")
        else if (url.contains("cursor=c1")) Http.Response(200, """{"id":2}""")
        else Http.Response(200, "")
    }
    val bodies = Http.fetchPages("http://api/x",
      Http.Cursor(nextCursor = b => if (b.contains("\"id\":1")) Some("c1") else None),
      fetcher = fetcher)
    assert(bodies.size == 2)
  }

  test("link-header and body-next-url pagination follow full URLs") {
    val linked = new Http.Fetcher {
      def fetch(url: String, headers: Map[String, String]): Http.Response = url match {
        case "http://api/a" => Http.Response(200, """{"id":1}""",
          Map("Link" -> """<http://api/b>; rel="next", <http://api/a>; rel="prev""""))
        case "http://api/b" => Http.Response(200, """{"id":2}""",
          Map("link" -> """<http://api/a>; rel="prev"""")) // no next → stop
        case other => Http.Response(404, s"unexpected $other")
      }
    }
    assert(Http.fetchPages("http://api/a", Http.LinkHeader, fetcher = linked).size == 2)
    // rel="next" anywhere among the params; next-archive is NOT next;
    // relative URLs resolve against the base
    assert(Http.nextLink(Map("Link" ->
      """<http://api/p2>; type="application/json"; rel="next"""")).contains("http://api/p2"))
    assert(Http.nextLink(Map("Link" -> """<http://api/x>; rel="next-archive"""")).isEmpty)
    val rel = new Http.Fetcher {
      def fetch(url: String, headers: Map[String, String]): Http.Response =
        if (url == "http://api/v1/items") Http.Response(200, """{"id":1}""",
          Map("Link" -> """</v1/items2>; rel="next""""))
        else if (url == "http://api/v1/items2") Http.Response(200, """{"id":2}""")
        else Http.Response(404, s"unexpected $url")
    }
    assert(Http.fetchPages("http://api/v1/items", Http.LinkHeader, fetcher = rel).size == 2)
    val nexted = new Http.Fetcher {
      def fetch(url: String, headers: Map[String, String]): Http.Response =
        if (url.endsWith("/p2")) Http.Response(200, """{"id":2,"next":null}""")
        else Http.Response(200, """{"id":1,"next":"http://api/p2"}""")
    }
    val bodies = Http.fetchPages("http://api/p1",
      Http.NextUrl(b => "\"next\":\"([^\"]+)\"".r.findFirstMatchIn(b).map(_.group(1))),
      fetcher = nexted)
    assert(bodies.size == 2)
  }

  test("retry backs off on 429/5xx and succeeds within budget") {
    var calls = 0
    val sleeps = collection.mutable.Buffer.empty[Long]
    val flaky = new Http.Fetcher {
      def fetch(url: String, headers: Map[String, String]): Http.Response = {
        calls += 1
        if (calls < 3) Http.Response(429, "slow down") else Http.Response(200, "ok")
      }
    }
    val r = Http.fetchWithRetry(flaky, "http://api", Map.empty,
      Http.RetryConfig(maxAttempts = 5, baseBackoffMs = 10,
        sleeper = ms => sleeps += ms))
    assert(r.status == 200 && calls == 3)
    assert(sleeps.toSeq == Seq(10L, 20L)) // exponential
  }

  test("auth modes produce expected headers") {
    assert(Http.Bearer("tok").headers == Map("Authorization" -> "Bearer tok"))
    assert(Http.BasicAuth("u", "p").headers("Authorization").startsWith("Basic "))
    assert(Http.ApiKey("X-Key", "k").headers == Map("X-Key" -> "k"))
  }

  test("enveloped JSON responses extract records at the dotted data path") {
    val api = new Http.Fetcher {
      def fetch(url: String, headers: Map[String, String]): Http.Response = {
        val page = "page=(\\d+)".r.findFirstMatchIn(url).map(_.group(1).toInt).getOrElse(1)
        if (page > 2) Http.Response(200, """{"data":{"items":[],"total":4}}""")
        else Http.Response(200,
          s"""{"data":{"items":[{"id":${page * 2 - 1}},{"id":${page * 2}}],"total":4}}""")
      }
    }
    val df = Http.read(spark, "http://api/env", Http.Page(), fetcher = api,
      format = Http.JsonEnvelope("data.items"))
    assert(df.count() == 4) // 2 pages x 2 items; empty items array stops the walk
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // missing path yields no records instead of one mangled row
    assert(Http.extractRecords("""{"other":1}""", Http.JsonEnvelope("data.items")).isEmpty)
  }

  test("csv pages parse with one header; non-header pages keep all rows") {
    val api = new Http.Fetcher {
      def fetch(url: String, headers: Map[String, String]): Http.Response = {
        val page = "page=(\\d+)".r.findFirstMatchIn(url).map(_.group(1).toInt).getOrElse(1)
        if (page > 2) Http.Response(200, "")
        else Http.Response(200, s"id|name\n${page}a|x\n${page}b|y\n")
      }
    }
    val df = Http.read(spark, "http://api/csv", Http.Page(), fetcher = api,
      format = Http.CsvPages(header = true, delimiter = "|"))
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.count() == 4) // repeated header rows stripped from page 2
    // zero pages → empty DataFrame, not a head-of-empty-list crash
    val never = new Http.Fetcher {
      def fetch(url: String, headers: Map[String, String]) = Http.Response(200, "")
    }
    assert(Http.read(spark, "http://api/none", Http.Page(), fetcher = never,
      format = Http.CsvPages(header = true)).count() == 0)
  }

  test("terminal non-200 throws instead of silently truncating; endStatuses opt out") {
    val flaky = new Http.Fetcher {
      def fetch(url: String, headers: Map[String, String]): Http.Response = {
        val page = "page=(\\d+)".r.findFirstMatchIn(url).map(_.group(1).toInt).getOrElse(1)
        if (page > 1) Http.Response(403, "forbidden") else Http.Response(200, """{"id":1}""")
      }
    }
    val e = intercept[Http.HttpStatusException] {
      Http.fetchPages("http://api/x", Http.Page(), fetcher = flaky)
    }
    assert(e.status == 403)
    // but an API that 404s past the last page can declare that an end signal
    val notFound = new Http.Fetcher {
      def fetch(url: String, headers: Map[String, String]): Http.Response = {
        val page = "page=(\\d+)".r.findFirstMatchIn(url).map(_.group(1).toInt).getOrElse(1)
        if (page > 2) Http.Response(404, "no such page") else Http.Response(200, s"""{"id":$page}""")
      }
    }
    assert(Http.fetchPages("http://api/x", Http.Page(), fetcher = notFound,
      endStatuses = Set(404)).size == 2)
  }

  test("rate limiter spaces acquisitions at the configured rate") {
    var clock = 0L
    val sleeps = collection.mutable.Buffer.empty[Long]
    val rl = new Http.RateLimiter(permitsPerSecond = 10, // 100 ms interval
      nowNs = () => clock, sleeper = ms => { sleeps += ms; clock += ms * 1000000 })
    rl.acquire() // first is free
    rl.acquire() // 100 ms later
    rl.acquire()
    assert(sleeps.toSeq == Seq(100L, 100L))
    clock += 350L * 1000000 // idle beyond the interval: next is free again
    rl.acquire()
    assert(sleeps.toSeq == Seq(100L, 100L))
  }

  test("javaNetFetcher end-to-end against a live loopback server, reusing connections") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val authSeen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ports = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/items", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        hits.incrementAndGet()
        ports.add(ex.getRemoteAddress.getPort)
        authSeen.add(Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""))
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val page = q.split("&").collectFirst {
          case kv if kv.startsWith("page=") => kv.stripPrefix("page=").toInt
        }.getOrElse(1)
        // three data pages, then empty ends the walk; one 500 first to
        // exercise the real retry path
        val body =
          if (page == 1 && hits.get() == 1) "boom"
          else if (page <= 3) s"""{"id":${page * 10}}\n{"id":${page * 10 + 1}}"""
          else ""
        val status = if (page == 1 && hits.get() == 1) 500 else 200
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/items"
      val df = Http.read(spark, base, Http.Page(),
        auth = Http.Bearer("tok-123"),
        fetcher = Http.javaNetFetcher(timeoutMs = 5000),
        retry = Http.RetryConfig(maxAttempts = 3, baseBackoffMs = 1, sleeper = _ => ()))
      val ids = df.select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(10L, 11L, 20L, 21L, 30L, 31L))
      assert(authSeen.toArray.forall(_ == "Bearer tok-123"))
      // 5 requests hit the server (500 + retry + pages 2,3 + empty 4);
      // ONE pooled HttpClient per fetcher means keep-alive reuse — far
      // fewer sockets than requests (the per-request-client bug opened
      // a fresh socket every time)
      assert(hits.get() == 5, s"hits=${hits.get()}")
      assert(ports.size() <= 2, s"expected connection reuse, got ${ports.size()} sockets for ${hits.get()} requests")
    } finally server.stop(0)
  }
}
