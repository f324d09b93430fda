package graft

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite
import graft.connections.{ConnContext, FlowConfig, RestConnection}
import graft.model.ConnectionDef
import graft.sqlbridge.SqlBridge

/** REST framework semantics against a local HTTP server, shaped like the
  * reference's integration fixture (ankaflow/tests/support/rest_server.py):
  * pagination, 429 throttling, OAuth2 token exchange + 401 refresh. */
class RestSpec extends AnyFunSuite {

  private def withServer(routes: Map[String, HttpExchange => (Int, String)])(
      body: Int => Unit): Unit =
    withBytesServer(routes.map { case (path, handler) =>
      path -> ((ex: HttpExchange) => {
        val (code, resp) = handler(ex)
        (code, resp.getBytes("UTF-8"))
      })
    })(body)

  /** A local server whose routes answer raw bytes. Each request runs on
    * its own thread, so a route that holds its answer blocks no other. */
  private def withBytesServer(routes: Map[String, HttpExchange => (Int, Array[Byte])])(
      body: Int => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(pool)
    routes.foreach { case (path, handler) =>
      server.createContext(path, (ex: HttpExchange) => {
        val (code, bytes) = handler(ex)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    }
    server.start()
    try body(server.getAddress.getPort)
    finally { server.stop(0); pool.shutdownNow() }
  }

  /** The bytes of a real one-file parquet table (sf0.001 region, 5 rows). */
  private lazy val regionParquet: Array[Byte] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_restpq").toString
    SparkSuite.spark.read.parquet("perfbench/data/sf0.001/region.parquet")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/pq")
    val pqFile = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/pq"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.readAllBytes(pqFile)
  }

  /** Server side of RFC 7616 digest auth for user alice / secret: true
    * when `ex` carries a valid answer for `GET path`; otherwise sets the
    * challenge header (answer 401 then). */
  private def digestOk(ex: HttpExchange, path: String): Boolean = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val realm = "graft@test"
    val nonce = "abc123nonce"
    Option(ex.getRequestHeaders.getFirst("Authorization")) match {
      case Some(authz) if authz.startsWith("Digest ") =>
        // verify the client's response hash server-side
        def p(k: String) = (k + "=\"([^\"]*)\"").r.findFirstMatchIn(authz)
          .map(_.group(1))
          .orElse((k + "=([^,\\s]+)").r.findFirstMatchIn(authz).map(_.group(1)))
        val ha1 = md5hex(s"alice:$realm:secret")
        val ha2 = md5hex(s"GET:$path")
        val expected = md5hex(
          s"$ha1:$nonce:${p("nc").get}:${p("cnonce").get}:auth:$ha2")
        p("response").contains(expected)
      case _ =>
        ex.getResponseHeaders.set("WWW-Authenticate",
          s"""Digest realm="$realm", nonce="$nonce", qop="auth"""")
        false
    }
  }

  private val digestAuth = Map("auth" -> Map("kind" -> "digest",
    "username" -> "alice", "password" -> "secret"))

  /** A URLPolling request whose ready response names the file URL. */
  private def urlPolling(contentType: String, extra: (String, Any)*): Map[String, Any] =
    Map("endpoint" -> "/job", "method" -> "get",
      "response" -> Map(
        "content_type" -> contentType,
        "handler" -> Map("kind" -> "URLPolling",
          "ready_status" -> "done", "locator" -> "file"))) ++ extra

  private def restConn(port: Int, client: Map[String, Any],
      request: Map[String, Any],
      cfg: FlowConfig = FlowConfig()): RestConnection = {
    val base = Map("base_url" -> s"http://localhost:$port") ++ client
    new RestConnection(ConnContext(SparkSuite.spark,
      ConnectionDef("rest", None,
        Map("client" -> base, "request" -> request)),
      cfg, scala.collection.mutable.Map.empty,
      new SqlBridge.NameRegistry))
  }

  test("plain GET with JMESPath locator extracts the record list") {
    withServer(Map("/items" -> (_ =>
      (200, """{"data":{"rows":[{"id":1,"v":"a"},{"id":2,"v":"b"}]}}""")))) { port =>
      val df = restConn(port, Map.empty, Map(
        "endpoint" -> "/items", "method" -> "get",
        "response" -> Map("locator" -> "data.rows"))).tap(None, None)
      assert(df.count() == 2)
      assert(df.columns.sorted.toSeq == Seq("id", "v"))
    }
  }

  test("pagination: increments page_param until a short page") {
    val calls = new AtomicInteger(0)
    withServer(Map("/paged" -> (ex => {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val page = "page=(\\d+)".r.findFirstMatchIn(q).map(_.group(1).toInt).getOrElse(0)
      calls.incrementAndGet()
      val rows =
        if (page < 2) """[{"id":1},{"id":2}]"""
        else """[{"id":9}]""" // short page → stop
      (200, s"""{"items":$rows}""")
    }))) { port =>
      val df = restConn(port, Map.empty, Map(
        "endpoint" -> "/paged", "method" -> "get",
        "query" -> Map("page" -> 0),
        "response" -> Map("locator" -> "items",
          "handler" -> Map("kind" -> "Pagination", "page_param" -> "page",
            "page_size" -> 2, "increment" -> 1)))).tap(None, None)
      assert(df.count() == 5) // 2 + 2 + 1
      assert(calls.get() == 3)
    }
  }

  test("pagination in body mode advances the page without a body template") {
    val pagesSeen = scala.collection.mutable.ListBuffer[Int]()
    withServer(Map("/bpaged" -> (ex => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val page = "\"page\":(\\d+)".r.findFirstMatchIn(body)
        .map(_.group(1).toInt).getOrElse(-1)
      pagesSeen += page
      if (page < 2) (200, """[{"id":1},{"id":2}]""")
      else (200, """[{"id":9}]""")
    }))) { port =>
      val df = restConn(port, Map.empty, Map(
        "endpoint" -> "/bpaged", "method" -> "post",
        "response" -> Map("handler" -> Map("kind" -> "Pagination",
          "page_param" -> "page", "page_size" -> 2, "increment" -> 1,
          "param_locator" -> "body")))).tap(None, None)
      assert(df.count() == 5)
      assert(pagesSeen.toList == List(0, 1, 2), "page must advance in the body")
    }
  }

  test("error_status_codes fails fast even for retryable codes") {
    val calls = new AtomicInteger(0)
    withServer(Map("/hard500" -> (_ => { calls.incrementAndGet(); (500, "{}") }))) {
      port =>
        val e = intercept[RuntimeException] {
          restConn(port, Map.empty, Map(
            "endpoint" -> "/hard500", "method" -> "get",
            "max_retries" -> 5,
            "errorhandler" -> Map("error_status_codes" -> List(500)),
            "response" -> Map.empty[String, Any])).tap(None, None)
        }
        assert(e.getMessage.contains("500"))
        assert(calls.get() == 1, "listed code must not retry")
    }
  }

  test("429 → wait and retry until success") {
    val calls = new AtomicInteger(0)
    withServer(Map("/flaky" -> (_ =>
      if (calls.incrementAndGet() < 3) (429, """{"err":"slow down"}""")
      else (200, """[{"ok":1}]""")))) { port =>
      val df = restConn(port, Map.empty, Map(
        "endpoint" -> "/flaky", "method" -> "get",
        "response" -> Map.empty[String, Any])).tap(None, None)
      assert(df.count() == 1)
      assert(calls.get() == 3)
    }
  }

  test("429 with Retry-After: delay-seconds takes precedence over doubling") {
    val calls = new AtomicInteger(0)
    withServer(Map("/ra" -> (ex =>
      if (calls.incrementAndGet() < 3) {
        ex.getResponseHeaders.set("Retry-After", "0")
        (429, """{"err":"slow down"}""")
      } else (200, """[{"ok":1}]""")))) { port =>
      val t0 = System.nanoTime()
      val df = restConn(port, Map.empty, Map(
        "endpoint" -> "/ra", "method" -> "get",
        "response" -> Map.empty[String, Any])).tap(None, None)
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      assert(df.count() == 1)
      assert(calls.get() == 3)
      // the doubling schedule would have slept 1 s + 2 s; honoring the
      // header means both retries are effectively immediate
      assert(elapsedMs < 2000, s"Retry-After ignored? took ${elapsedMs}ms")
    }
  }

  test("500 retries up to max_retries then fails") {
    val calls = new AtomicInteger(0)
    withServer(Map("/down" -> (_ => { calls.incrementAndGet(); (500, "{}") }))) {
      port =>
        val e = intercept[RuntimeException] {
          restConn(port, Map.empty, Map(
            "endpoint" -> "/down", "method" -> "get",
            "max_retries" -> 2,
            "response" -> Map.empty[String, Any])).tap(None, None)
        }
        assert(e.getMessage.contains("500"))
        assert(calls.get() == 3) // initial + 2 retries
    }
  }

  test("oauth2: token exchange then bearer on the data call") {
    val tokenCalls = new AtomicInteger(0)
    withServer(Map(
      "/token" -> (ex => {
        tokenCalls.incrementAndGet()
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        assert(body.contains("grant_type="))
        assert(body.contains("client_id=cid"))
        (200, """{"access_token":"AT1","refresh_token":"RT1"}""")
      }),
      "/data" -> (ex => {
        val authz = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
        if (authz == "Bearer AT1") (200, """[{"id":7}]""")
        else (401, "{}")
      }))) { port =>
      val df = restConn(port,
        Map("auth" -> Map("kind" -> "oauth2",
          "config" -> Map(
            "access_token_url" -> s"http://localhost:$port/token",
            "client_id" -> "cid", "client_secret" -> "sec",
            "subject_token" -> "subj"))),
        Map("endpoint" -> "/data", "method" -> "get",
          "response" -> Map.empty[String, Any])).tap(None, None)
      assert(df.count() == 1)
      assert(tokenCalls.get() == 1)
    }
  }

  test("oauth2: 401 on data call → one refresh → retry succeeds") {
    val tokenCalls = new AtomicInteger(0)
    withServer(Map(
      "/token" -> (_ => {
        val n = tokenCalls.incrementAndGet()
        (200, s"""{"access_token":"AT$n"}""")
      }),
      "/data" -> (ex => {
        val authz = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
        // AT1 is "expired": only the refreshed AT2 is accepted
        if (authz == "Bearer AT2") (200, """[{"id":1},{"id":2}]""")
        else (401, "{}")
      }))) { port =>
      val df = restConn(port,
        Map("auth" -> Map("kind" -> "oauth2",
          "config" -> Map(
            "access_token_url" -> s"http://localhost:$port/token",
            "client_id" -> "cid", "client_secret" -> "sec",
            "subject_token" -> "subj"))),
        Map("endpoint" -> "/data", "method" -> "get",
          "response" -> Map.empty[String, Any])).tap(None, None)
      assert(df.count() == 2)
      assert(tokenCalls.get() == 2) // initial exchange + 401-triggered refresh
    }
  }

  test("oauth2: custom header name carries the raw token") {
    withServer(Map(
      "/token" -> (_ => (200, """{"access_token":"XYZ"}""")),
      "/data" -> (ex => {
        val h = Option(ex.getRequestHeaders.getFirst("X-Auth")).getOrElse("")
        if (h == "XYZ") (200, """[{"ok":1}]""") else (403, "{}")
      }))) { port =>
      val df = restConn(port,
        Map("auth" -> Map("kind" -> "oauth2", "oauth_header" -> "X-Auth",
          "config" -> Map(
            "access_token_url" -> s"http://localhost:$port/token",
            "client_id" -> "c", "client_secret" -> "s",
            "subject_token" -> "t"))),
        Map("endpoint" -> "/data", "method" -> "get",
          "response" -> Map.empty[String, Any])).tap(None, None)
      assert(df.count() == 1)
    }
  }

  test("oauth2 keyring: named provider shares rotated tokens and fires callbacks") {
    import graft.connections.OAuth2Provider
    val tokenCalls = new AtomicInteger(0)
    val refreshed = scala.collection.mutable.ArrayBuffer[(String, Map[String, Any])]()
    withServer(Map(
      "/token" -> (_ => {
        val n = tokenCalls.incrementAndGet()
        (200, s"""{"access_token":"AT$n","refresh_token":"RT$n"}""")
      }),
      "/data" -> (ex => {
        val authz = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
        if (authz.startsWith("Bearer AT")) (200, """[{"id":1}]""") else (401, "{}")
      }))) { port =>
      val prov = OAuth2Provider(name = "acme",
        refreshToken = Some("RT0"),
        config = Map(
          "access_token_url" -> s"http://localhost:$port/token",
          "client_id" -> "cid", "client_secret" -> "sec"),
        onTokenRefresh = (n, data) => refreshed += (n -> data))
      val cfg = FlowConfig(oauthKeyring = Seq(prov))
      val client = Map("auth" -> Map("kind" -> "oauth2", "provider" -> "acme"))
      val req = Map("endpoint" -> "/data", "method" -> "get",
        "response" -> Map.empty[String, Any])
      assert(restConn(port, client, req, cfg).tap(None, None).count() == 1)
      // rotation persisted on the provider + surfaced through the callback
      assert(prov.accessToken.contains("AT1"))
      assert(prov.refreshToken.contains("RT1"))
      assert(refreshed.toList == List("acme" -> Map(
        "access_token" -> "AT1", "refresh_token" -> "RT1")))
      // a SECOND connection against the same provider reuses the token —
      // no extra token-endpoint call
      assert(restConn(port, client, req, cfg).tap(None, None).count() == 1)
      assert(tokenCalls.get() == 1)
    }
  }

  test("oauth2: refresh failure fires on_refresh_fail with the RFC error key") {
    import graft.connections.OAuth2Provider
    val failures = scala.collection.mutable.ArrayBuffer[(String, Map[String, Any])]()
    withServer(Map(
      "/token" -> (_ => (400, """{"error":"invalid_grant"}""")))) { port =>
      val prov = OAuth2Provider(name = "bad",
        refreshToken = Some("RTX"),
        config = Map("access_token_url" -> s"http://localhost:$port/token",
          "client_id" -> "c", "client_secret" -> "s"),
        onRefreshFail = (n, data) => failures += (n -> data))
      val ex = intercept[Exception] {
        restConn(port,
          Map("auth" -> Map("kind" -> "oauth2", "provider" -> "bad")),
          Map("endpoint" -> "/d", "method" -> "get",
            "response" -> Map.empty[String, Any]),
          FlowConfig(oauthKeyring = Seq(prov))).tap(None, None)
      }
      assert(ex.getMessage.contains("token refresh failed"))
      assert(prov.accessToken.isEmpty) // kill switch
      val (name, data) = failures.head
      assert(name == "bad")
      assert(data("error") == "invalid_grant")
      assert(data("status_code") == 400)
    }
  }

  test("oauth2: a token endpoint 503 is retried, then the refresh succeeds") {
    val tokenCalls = new AtomicInteger(0)
    withServer(Map(
      "/token" -> (_ =>
        if (tokenCalls.incrementAndGet() == 1) (503, """{"error":"busy"}""")
        else (200, """{"access_token":"AT1"}""")),
      "/data" -> (ex => {
        val authz = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
        if (authz == "Bearer AT1") (200, """[{"id":1}]""") else (401, "{}")
      }))) { port =>
      val df = restConn(port,
        Map("auth" -> Map("kind" -> "oauth2",
          "config" -> Map(
            "access_token_url" -> s"http://localhost:$port/token",
            "client_id" -> "cid", "client_secret" -> "sec",
            "subject_token" -> "subj"))),
        Map("endpoint" -> "/data", "method" -> "get",
          "response" -> Map.empty[String, Any])).tap(None, None)
      assert(df.count() == 1)
      assert(tokenCalls.get() == 2) // the 503, then the retried exchange
    }
  }

  test("oauth2: unknown keyring provider name is a clear error") {
    val ex = intercept[Exception] {
      restConn(0,
        Map("auth" -> Map("kind" -> "oauth2", "provider" -> "ghost")),
        Map("endpoint" -> "/d", "method" -> "get",
          "response" -> Map.empty[String, Any])).tap(None, None)
    }
    assert(ex.getMessage.contains("'ghost' not found in keyring"))
  }

  test("StatePolling waits for ready_status then extracts records") {
    val calls = new AtomicInteger(0)
    withServer(Map("/job" -> (_ =>
      if (calls.incrementAndGet() < 3)
        (200, """{"status":false,"out":[]}""")
      else (200, """{"status":true,"out":[{"r":1},{"r":2}]}""")))) { port =>
      val df = restConn(port, Map.empty, Map(
        "endpoint" -> "/job", "method" -> "get",
        "response" -> Map("locator" -> "out",
          "handler" -> Map("kind" -> "StatePolling",
            "ready_status" -> "status")))).tap(None, None)
      assert(df.count() == 2)
      assert(calls.get() == 3)
    }
  }

  test("URLPolling: waits for ready, then fetches the file URL") {
    val calls = new AtomicInteger(0)
    // the ready response must carry an absolute URL to this same server;
    // the port is only known after bind, so the route reads it from a var
    var boundPort = 0
    withServer(Map(
      "/job" -> (_ => {
        val n = calls.incrementAndGet()
        if (n < 2) (200, """{"done":false}""")
        else (200,
          s"""{"done":true,"file":"http://localhost:$boundPort/export"}""")
      }),
      "/export" -> (_ => (200, """[{"x":1},{"x":2},{"x":3}]""")))) { port =>
      boundPort = port
      val df = restConn(port, Map.empty, Map(
        "endpoint" -> "/job", "method" -> "get",
        "response" -> Map(
          "handler" -> Map("kind" -> "URLPolling",
            "ready_status" -> "done", "locator" -> "file")))).tap(None, None)
      assert(df.count() == 3)
      assert(calls.get() == 2)
    }
  }

  test("URLPolling materializes a CSV payload per response content_type") {
    var boundPort = 0
    withServer(Map(
      "/job" -> (_ => (200,
        s"""{"done":true,"file":"http://localhost:$boundPort/export.csv"}""")),
      "/export.csv" -> (_ => (200, "id,name\n1,alpha\n2,beta\n")))) { port =>
      boundPort = port
      val df = restConn(port, Map.empty, Map(
        "endpoint" -> "/job", "method" -> "get",
        "response" -> Map(
          "content_type" -> "text/csv",
          "handler" -> Map("kind" -> "URLPolling",
            "ready_status" -> "done", "locator" -> "file")))).tap(None, None)
      assert(df.count() == 2)
      assert(df.columns.toList == List("id", "name"))
      assert(df.filter(df("id") === 2).collect()(0).getString(1) == "beta")
    }
  }

  test("URLPolling file download retries a transient 503") {
    val fileCalls = new AtomicInteger(0)
    var boundPort = 0
    withServer(Map(
      "/job" -> (_ => (200,
        s"""{"done":true,"file":"http://localhost:$boundPort/f.csv"}""")),
      "/f.csv" -> (_ => {
        if (fileCalls.incrementAndGet() == 1) (503, "busy")
        else (200, "a,b\n1,2\n")
      }))) { port =>
      boundPort = port
      val df = restConn(port, Map.empty, Map(
        "endpoint" -> "/job", "method" -> "get", "max_retries" -> "2",
        "response" -> Map(
          "content_type" -> "text/csv",
          "handler" -> Map("kind" -> "URLPolling",
            "ready_status" -> "done", "locator" -> "file")))).tap(None, None)
      assert(df.count() == 1)
      assert(fileCalls.get() == 2)
    }
  }

  test("URLPolling materializes a binary parquet payload") {
    // serve a real parquet file's bytes verbatim
    var boundPort = 0
    withBytesServer(Map(
      "/data.parquet" -> (_ => (200, regionParquet)),
      "/job" -> (_ => (200,
        s"""{"done":true,"file":"http://localhost:$boundPort/data.parquet"}"""
          .getBytes("UTF-8"))))) { port =>
      boundPort = port
      val df = restConn(port, Map.empty, Map(
        "endpoint" -> "/job", "method" -> "get",
        "response" -> Map(
          "content_type" -> "application/vnd.apache.parquet",
          "handler" -> Map("kind" -> "URLPolling",
            "ready_status" -> "done", "locator" -> "file")))).tap(None, None)
      assert(df.count() == 5)
      assert(df.columns.contains("r_name"))
    }
  }

  test("URLPolling: a parquet payload behind digest auth materializes") {
    var boundPort = 0
    withBytesServer(Map(
      "/job" -> (ex =>
        if (!digestOk(ex, "/job")) (401, "{}".getBytes("UTF-8"))
        else (200, s"""{"done":true,"file":"http://localhost:$boundPort/data.parquet"}"""
          .getBytes("UTF-8"))),
      "/data.parquet" -> (ex =>
        if (digestOk(ex, "/data.parquet")) (200, regionParquet)
        else (401, "{}".getBytes("UTF-8"))))) { port =>
      boundPort = port
      val df = restConn(port, digestAuth,
        urlPolling("application/vnd.apache.parquet")).tap(None, None)
      assert(df.count() == 5)
      assert(df.columns.contains("r_name"))
    }
  }

  test("a file download answered 429 with Retry-After: 0 is retried at once") {
    val fileCalls = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    var boundPort = 0
    withBytesServer(Map(
      "/job" -> (_ => (200,
        s"""{"done":true,"file":"http://localhost:$boundPort/f.parquet"}"""
          .getBytes("UTF-8"))),
      "/f.parquet" -> (ex => {
        fileCalls.add(System.nanoTime())
        if (fileCalls.size == 1) {
          ex.getResponseHeaders.set("Retry-After", "0")
          (429, "{}".getBytes("UTF-8"))
        } else (200, regionParquet)
      }))) { port =>
      boundPort = port
      val df = restConn(port, Map.empty,
        urlPolling("application/vnd.apache.parquet", "max_retries" -> 1)).tap(None, None)
      assert(df.count() == 5)
      val times = fileCalls.toArray.map(_.asInstanceOf[Long])
      assert(times.length == 2)
      val gapMs = (times(1) - times(0)) / 1000000
      // the doubling schedule would wait 1 s
      assert(gapMs < 500, s"Retry-After ignored? the retry came after ${gapMs}ms")
    }
  }

  test("URLPolling reads a UTF-8 non-ASCII CSV payload back byte-exact") {
    val csv = "id,name\n1,Zürich\n2,東京\n3,naïve — “quoted”\n"
    var boundPort = 0
    withServer(Map(
      "/job" -> (_ => (200,
        s"""{"done":true,"file":"http://localhost:$boundPort/export.csv"}""")),
      "/export.csv" -> (_ => (200, csv)))) { port =>
      boundPort = port
      val df = restConn(port, Map.empty, urlPolling("text/csv")).tap(None, None)
      val names = df.orderBy("id").collect().map(_.getString(1)).toList
      assert(names == List("Zürich", "東京", "naïve — “quoted”"))
    }
  }

  test("a data call that gets no answer within client.timeout fails with a timeout") {
    withServer(Map("/slow" -> (_ => {
      try Thread.sleep(3000) catch { case _: InterruptedException => }
      (200, """[{"id":1}]""")
    }))) { port =>
      val t0 = System.nanoTime()
      intercept[java.net.http.HttpTimeoutException] {
        restConn(port, Map("timeout" -> 0.5), Map(
          "endpoint" -> "/slow", "method" -> "get", "max_retries" -> 0,
          "response" -> Map.empty[String, Any])).tap(None, None)
      }
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      assert(elapsedMs < 2500, s"the timeout did not fire: took ${elapsedMs}ms")
    }
  }

  test("a timeout is a transport error: it is retried under max_retries") {
    val calls = new AtomicInteger(0)
    withServer(Map("/once-slow" -> (_ => {
      if (calls.incrementAndGet() == 1)
        try Thread.sleep(3000) catch { case _: InterruptedException => }
      (200, """[{"id":1},{"id":2}]""")
    }))) { port =>
      val df = restConn(port, Map("timeout" -> 0.5), Map(
        "endpoint" -> "/once-slow", "method" -> "get",
        "max_retries" -> 1, "initial_backoff" -> 0,
        "response" -> Map.empty[String, Any])).tap(None, None)
      assert(df.count() == 2)
      assert(calls.get() == 2)
    }
  }

  test("custom error condition raises with the extracted message") {
    withServer(Map("/soft" -> (_ =>
      (200, """{"status":"FAILED","error":{"detail":"quota exceeded"},"rows":[]}""")))) {
      port =>
        val e = intercept[RuntimeException] {
          restConn(port, Map.empty, Map(
            "endpoint" -> "/soft", "method" -> "get",
            "errorhandler" -> Map(
              "condition" -> "error", "message" -> "error.detail"),
            "response" -> Map("locator" -> "rows"))).tap(None, None)
        }
        assert(e.getMessage.contains("quota exceeded"))
    }
  }

  test("error_status_codes forces listed 2xx/3xx codes to fail") {
    withServer(Map("/weird" -> (_ => (203, """[{"x":1}]""")))) { port =>
      val e = intercept[RuntimeException] {
        restConn(port, Map.empty, Map(
          "endpoint" -> "/weird", "method" -> "get",
          "errorhandler" -> Map("error_status_codes" -> List(203)),
          "response" -> Map.empty[String, Any])).tap(None, None)
      }
      assert(e.getMessage.contains("203"))
    }
  }

  test("digest auth: 401 challenge answered with valid RFC 7616 response") {
    withServer(Map("/secure" -> (ex =>
      if (digestOk(ex, "/secure")) (200, """[{"ok":1}]""")
      else if (ex.getRequestHeaders.containsKey("Authorization")) (403, "{}")
      else (401, "{}")))) { port =>
      val df = restConn(port, digestAuth,
        Map("endpoint" -> "/secure", "method" -> "get",
          "response" -> Map.empty[String, Any])).tap(None, None)
      assert(df.count() == 1)
    }
  }

  test("declared fields stabilize an empty response") {
    withServer(Map("/empty" -> (_ => (200, """[]""")))) { port =>
      val conn = new RestConnection(ConnContext(SparkSuite.spark,
        ConnectionDef("rest", None, Map(
          "client" -> Map("base_url" -> s"http://localhost:$port"),
          "request" -> Map("endpoint" -> "/empty", "method" -> "get",
            "response" -> Map.empty[String, Any]),
          "fields" -> List(
            Map("name" -> "id", "type" -> "BIGINT"),
            Map("name" -> "label", "type" -> "VARCHAR")))),
        FlowConfig(), scala.collection.mutable.Map.empty,
        new SqlBridge.NameRegistry))
      val df = conn.tap(None, None)
      assert(df.count() == 0)
      assert(df.schema.fieldNames.toSeq == Seq("id", "label"))
    }
  }
}
