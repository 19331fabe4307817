package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The DSv2 `graft-http` source against a LIVE loopback server:
 *  parity with a driver-side fetch, planning-time limit pruning,
 *  parse-time column pruning, partition chunking, auth forwarding. */
class HttpV2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Offset-paginated JSONL API: `pages` pages of `per` records, then
   *  empty bodies forever; records every request URL + auth header. */
  private def withServer[T](pages: Int = 3, per: Int = 2)
                           (body: (String, ConcurrentLinkedQueue[String],
                                   ConcurrentLinkedQueue[String]) => T): T = {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val urls = new ConcurrentLinkedQueue[String]()
    val auths = new ConcurrentLinkedQueue[String]()
    server.createContext("/items", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        urls.add(ex.getRequestURI.toString)
        auths.add(Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""))
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val offset = q.split("&").collectFirst {
          case kv if kv.startsWith("offset=") => kv.stripPrefix("offset=").toInt
        }.getOrElse(0)
        val b =
          if (offset >= pages * per) ""
          else (offset until offset + per)
            .map(i => s"""{"id":$i,"v":"row$i","extra":${i * 100}}""").mkString("\n")
        val bytes = b.getBytes("UTF-8")
        ex.sendResponseHeaders(200, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/items", urls, auths)
    finally server.stop(0)
  }

  private val userSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id BIGINT, v STRING, extra BIGINT")

  test("row parity with a driver-side fetch of the same planned pages") {
    withServer() { (base, urls, _) =>
      val v2 = spark.read.format("graft-http")
        .option("url", base).option("pages", "3").option("pageSize", "2")
        .load()
      val a = v2.select("id", "v", "extra").collect().map(_.toSeq).sortBy(_.head.toString)
      // reference: the same planned URLs fetched and split on the
      // driver, parsed by spark.read.json — the parse stack the DSv2
      // reader promises to match
      val planned = (0 until 3).map(p => s"$base?offset=${p * 2}&limit=2")
      val fetcher = Http.javaNetFetcher(timeoutMs = 5000)
      val records = planned.flatMap(u => Http.extractRecords(
        Http.fetchWithRetry(fetcher, u, Map.empty, Http.RetryConfig()).body,
        Http.JsonLines))
      import spark.implicits._
      val ref = spark.read.json(spark.createDataset(records))
      val b = ref.select("id", "v", "extra").collect().map(_.toSeq).sortBy(_.head.toString)
      assert(a.toSeq == b.toSeq)
      assert(a.length == 6)
      // v2: 1 probe fetch + 3 execution fetches; the reference: 3 —
      // the DSv2 table infers its schema from a single bounded probe
      assert(urls.size == 7, s"urls=$urls")
      assert(urls.toArray.count(_.toString.contains("offset=0")) == 3)
    }
  }

  test("user-supplied schema skips the driver probe fetch") {
    withServer() { (base, urls, _) =>
      val df = spark.read.format("graft-http").schema(userSchema)
        .option("url", base).option("pages", "3").option("pageSize", "2")
        .load()
      assert(df.count() == 6)
      assert(urls.size == 3, s"expected no probe, urls=$urls")
    }
  }

  test("LIMIT prunes whole pages at planning time") {
    withServer() { (base, urls, _) =>
      val df = spark.read.format("graft-http").schema(userSchema)
        .option("url", base).option("pages", "3").option("pageSize", "2")
        .load().limit(2)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L))
      // ceil(2/2) + 1 safety page = 2 pages PLANNED (page 3 pruned);
      // Spark's incremental limit execution then stops after page 1
      // fills the limit, so the safety page is planned but never
      // fetched on the full-pages happy path
      assert(urls.size <= 2, s"urls=$urls")
      assert(urls.toArray.exists(_.toString.contains("offset=0")))
      assert(!urls.toArray.exists(_.toString.contains("offset=4")),
        s"pruned page 3 must never be requested, urls=$urls")
    }
  }

  /** Offset-paginated server with caller-supplied body per offset. */
  private def withBodyServer[T](bodyFor: Int => String)
                               (body: (String, ConcurrentLinkedQueue[String]) => T): T = {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val urls = new ConcurrentLinkedQueue[String]()
    server.createContext("/items", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        urls.add(ex.getRequestURI.toString)
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val offset = q.split("&").collectFirst {
          case kv if kv.startsWith("offset=") => kv.stripPrefix("offset=").toInt
        }.getOrElse(0)
        val bytes = bodyFor(offset).getBytes("UTF-8")
        ex.sendResponseHeaders(200, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/items", urls)
    finally server.stop(0)
  }

  test("DROPMALFORMED disables page pruning — limit still fills from later pages") {
    // each page declares size 2 but yields 1 good + 1 malformed row, so
    // under DROPMALFORMED ceil(3/2)=2 pruned pages would yield only 2
    // rows while page 3 still holds data; pruning must be skipped
    withBodyServer(offset =>
      if (offset >= 6) ""
      else s"""{"id":$offset,"v":"row$offset","extra":0}""" + "\nnot-json") { (base, urls) =>
      val df = spark.read.format("graft-http").schema(userSchema)
        .option("url", base).option("pages", "3").option("pageSize", "2")
        .option("mode", "DROPMALFORMED")
        .load().limit(3)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 4L))
      assert(urls.size == 3, s"all pages must be planned, urls=$urls")
    }
  }

  test("a single short page mid-feed cannot starve a pruned LIMIT") {
    // page at offset=0 under-fills its declared size (1 row instead of
    // 2); the +1 over-plan keeps page 2 so limit(2) still fills
    withBodyServer {
      case 0 => """{"id":0,"v":"row0","extra":0}"""
      case o if o < 6 => (o until o + 2)
        .map(i => s"""{"id":$i,"v":"row$i","extra":0}""").mkString("\n")
      case _ => ""
    } { (base, urls) =>
      val df = spark.read.format("graft-http").schema(userSchema)
        .option("url", base).option("pages", "3").option("pageSize", "2")
        .load().limit(2)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L))
      assert(urls.size == 2, s"urls=$urls")
    }
  }

  test("column pruning reaches the scan's read schema (parse-time, not projection-time)") {
    withServer() { (base, _, _) =>
      val df = spark.read.format("graft-http").schema(userSchema)
        .option("url", base).option("pages", "3").option("pageSize", "2")
        .load().select("id")
      val read = df.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.scan.readSchema()
      }
      assert(read.contains(org.apache.spark.sql.types.StructType.fromDDL("id BIGINT")),
        s"scan readSchema=$read")
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L to 5L))
    }
  }

  test("partitionPages chunks pages into input partitions") {
    withServer(pages = 4) { (base, _, _) =>
      val df = spark.read.format("graft-http").schema(userSchema)
        .option("url", base).option("pages", "4").option("pageSize", "2")
        .option("partitionPages", "2")
        .load()
      assert(df.rdd.getNumPartitions == 2)
      assert(df.count() == 8)
    }
  }

  test("auth option forwards headers from every executor fetch") {
    withServer() { (base, _, auths) =>
      val df = spark.read.format("graft-http").schema(userSchema)
        .option("url", base).option("pages", "3").option("pageSize", "2")
        .option("bearerToken", "tok-v2")
        .load()
      assert(df.count() == 6)
      assert(auths.toArray.forall(_ == "Bearer tok-v2"), s"auths=$auths")
    }
  }

  test("page pagination plans page-param addresses; DROPMALFORMED drops bad lines") {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new AtomicInteger(0)
    server.createContext("/p", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        hits.incrementAndGet()
        val page = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").collectFirst {
            case kv if kv.startsWith("p=") => kv.stripPrefix("p=").toInt
          }.getOrElse(1)
        // page 2 carries one malformed line
        val b = if (page == 1) """{"id":1}""" + "\n" + """{"id":2}"""
                else """{"id":3}""" + "\nnot-json{{{"
        val bytes = b.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/p"
      val df = spark.read.format("graft-http")
        .schema(org.apache.spark.sql.types.StructType.fromDDL("id BIGINT"))
        .option("url", base).option("pagination", "page")
        .option("pageParam", "p").option("pages", "2")
        .option("mode", "DROPMALFORMED")
        .load()
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
      assert(hits.get() == 2)
    } finally server.stop(0)
  }

  test("envelope format extracts records at the dataPath") {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/e", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val offset = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").collectFirst {
            case kv if kv.startsWith("offset=") => kv.stripPrefix("offset=").toInt
          }.getOrElse(0)
        val b = s"""{"meta":{"page":$offset},"data":{"items":[{"id":${offset + 1}},{"id":${offset + 2}}]}}"""
        val bytes = b.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/e"
      val df = spark.read.format("graft-http")
        .schema(org.apache.spark.sql.types.StructType.fromDDL("id BIGINT"))
        .option("url", base).option("pages", "2").option("pageSize", "2")
        .option("format", "json").option("dataPath", "data.items")
        .load()
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    } finally server.stop(0)
  }
}
