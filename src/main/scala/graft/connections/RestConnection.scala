package graft.connections

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import graft.functions.Md5
import graft.template.{Api, Json}

/** REST ingestion framework (reference: the ankaflow/connections/rest
  * package; SURVEY.md §2.8).
  *
  * Driver-side HTTP (like the reference — ingestion is inherently a
  * driver/edge concern), then pages of JSON are materialized into a
  * DataFrame in one `spark.read.json` pass (scale note: pages are
  * buffered as strings and parallelized; a 100 TB pipeline would ingest
  * via object storage, not HTTP — this mirrors the reference's scope).
  *
  * Supported: auth basic/bearer/header/digest/oauth2; Pagination /
  * StatePolling / URLPolling handlers; JMESPath-subset `locator` record
  * extraction. Every request — data page, poll, file download, OAuth2
  * token call — goes through one exchange loop with the reference's
  * error policy (rest/server.py:343-467, see [[exchange]]).
  */
final class RestConnection(ctx: ConnContext) extends Connection(ctx) {
  import RestConnection._

  private val client = conn.map("client")
  private val request = conn.map("request")

  private def str(m: Map[String, Any], k: String): Option[String] =
    m.get(k).collect { case v if v != null => v.toString }

  private def submap(m: Map[String, Any], k: String): Map[String, Any] =
    m.get(k) match {
      case Some(mm: Map[_, _]) => mm.map { case (a, b) => a.toString -> b }
      case _ => Map.empty
    }

  // client.timeout bounds the TCP connect and, for data and download
  // requests, the wait for the response headers: a server that accepts
  // the connection and never answers is a transport error, retried like
  // one (the reference's httpx timeout, rest/server.py:343-467)
  private lazy val timeout = Duration.ofMillis(
    (str(client, "timeout").map(_.toDouble).getOrElse(5.0) * 1000).toLong)

  private lazy val http: HttpClient =
    HttpClient.newBuilder().connectTimeout(timeout).build()

  // the request's settings, read here for every call fetchAll and sink make
  private def endpoint: String =
    str(request, "endpoint").getOrElse(sys.error("Rest: no endpoint"))
  private def requestMethod(default: String): String =
    str(request, "method").getOrElse(default)
  private lazy val apiHeaders: Map[String, String] = authHeaders ++
    str(request, "content_type").map("Content-Type" -> _).toMap

  // UNBOUNDED 429 by reference design: the reference's 429 handler
  // re-fetches with doubling wait and never decrements its retry budget
  // (rest/server.py:349-374 — only 5xx consumes self.retry), so a
  // persistently rate-limiting endpoint waits forever there too.
  private lazy val dataPolicy = {
    val backoff = str(request, "initial_backoff").map(_.toDouble).getOrElse(0.5)
    Policy(str(request, "max_retries").map(_.toInt).getOrElse(0),
      n => backoff * math.pow(2, n), n => n + 1.0,
      boundedRateLimit = false, timeout, api = true)
  }
  // a file download has no reference counterpart to stay faithful to, so
  // its 429s count against max_retries: it fails instead of hanging
  private lazy val downloadPolicy = dataPolicy.copy(boundedRateLimit = true)
  // the token endpoint: transient failures retry ≤2 with 2^(n+1) s
  // backoff (rest/server.py:152-189), no auth challenge is answered, and
  // every other status goes to the caller's on_refresh_fail path
  private val tokenPolicy = Policy(2, n => math.pow(2, n + 1),
    n => math.pow(2, n + 1), boundedRateLimit = true, Duration.ofSeconds(10), api = false)

  /** The one HTTP exchange every request goes through, with the
    * reference's error policy (rest/server.py:343-467). Per attempt it
    * sends `method url` with `headers` (plus, for an API call, the OAuth2
    * header, re-resolved per attempt, and any digest answer), then:
    *  - a transport error, a timeout included, retries after
    *    `transportWait` while the budget lasts, then throws;
    *  - an API call's listed `error_status_codes` return at once, before
    *    any retry policy;
    *  - 429 retries; an RFC 9110 `Retry-After: <delay-seconds>` takes
    *    precedence over the schedule (a rate-limiting server says when to
    *    come back, and waiting less just burns its quota again), else the
    *    wait doubles from 1 s (rest/server.py:369-374) — or, under
    *    `boundedRateLimit`, is `statusWait` and spends the budget;
    *  - 5xx retries after `statusWait` while the budget lasts;
    *  - an API call's 401 gets one OAuth2 refresh (reference
    *    OAuth2Auth.auth_flow, rest/server.py:100-117) or one Digest
    *    answer.
    * Any other response is returned: a success, or a status the caller
    * turns into its error. */
  private def exchange[T](method: String, url: String, headers: Map[String, String],
      body: Option[String], handler: HttpResponse.BodyHandler[T],
      policy: Policy): HttpResponse[T] = {
    var spent = 0 // retries charged to policy.retries
    var rateWait = 1.0
    var refreshed = false
    var digest: Option[String] = None
    while (true) {
      val builder = HttpRequest.newBuilder().uri(URI.create(url)).timeout(policy.timeout)
      val auth = if (!policy.api) Map.empty[String, String]
        else oauthHeaders ++ digest.map("Authorization" -> _)
      (headers ++ auth).foreach { case (k, v) => builder.header(k, v) }
      val content = HttpRequest.BodyPublishers.ofString(body.getOrElse(""))
      val req = method.toUpperCase match {
        case "GET" => builder.GET().build()
        case "POST" => builder.POST(content).build()
        case "PUT" => builder.PUT(content).build()
        case "DELETE" => builder.DELETE().build()
        case other => sys.error(s"unsupported HTTP method: $other")
      }
      val resp = try Some(http.send(req, handler)) catch {
        case _: java.io.IOException if spent < policy.retries => None
      }
      val code = resp.fold(0)(_.statusCode())
      // clamp untrusted header input: a negative value would make
      // Thread.sleep throw, a huge one would park the thread for hours —
      // [0, 300 s] covers every sane rate limiter
      val retryAfter = resp.filter(_ => code == 429).flatMap(r =>
        scala.util.Try(r.headers().firstValue("Retry-After").get.toDouble).toOption)
        .map(sec => math.min(math.max(0.0, sec), 300.0))
      val wait: Double =
        if (resp.isEmpty) { spent += 1; policy.transportWait(spent - 1) }
        else if (policy.api && errorStatusCodes.contains(code)) return resp.get
        else if (code == 429 && !policy.boundedRateLimit)
          retryAfter.getOrElse { rateWait *= 2; rateWait / 2 }
        else if ((code == 429 || code >= 500) && spent < policy.retries) {
          spent += 1
          retryAfter.getOrElse(policy.statusWait(spent - 1))
        } else if (code == 401 && policy.api && isOAuth && !refreshed) {
          refreshTokens() // token expired mid-flow: refresh once and retry
          refreshed = true
          0.0
        } else if (code == 401 && policy.api && isDigest && digest.isEmpty) {
          val challenge = resp.get.headers().firstValue("WWW-Authenticate").orElse("")
          if (!challenge.toLowerCase.startsWith("digest"))
            sys.error(s"HTTP 401 from $url without a Digest challenge")
          val u = URI.create(url)
          digest = Some(digestAnswer(challenge, method,
            u.getRawPath + Option(u.getRawQuery).map("?" + _).getOrElse("")))
          0.0
        } else return resp.get
      Thread.sleep((wait * 1000).toLong)
    }
    sys.error("unreachable")
  }

  /** One API request: its body, or the error its final status stands
    * for (listed `error_status_codes` included). */
  private def send[T](method: String, url: String, body: Option[String],
      handler: HttpResponse.BodyHandler[T], policy: Policy): T = {
    val resp = exchange(method, url, apiHeaders, body, handler, policy)
    val code = resp.statusCode()
    if (code >= 400 || errorStatusCodes.contains(code)) {
      val excerpt = resp.body() match { case s: String => ": " + s.take(500); case _ => "" }
      sys.error(s"HTTP $code from $url$excerpt")
    }
    resp.body()
  }

  /** One API call whose body is JSON text; the custom errorhandler
    * condition applies to it (to API response envelopes, not to file
    * payload bytes, which [[download]] fetches). */
  private def call(method: String, url: String, body: Option[String]): String = {
    val text = send(method, url, body, HttpResponse.BodyHandlers.ofString(), dataPolicy)
    checkCustomError(text, url)
    text
  }

  /** Stream the file at `url` to a temp file, the way the reference
    * streams a URLPolling payload (rest/rest.py:233-250): bytes land as
    * sent, whatever the payload kind. Each attempt truncates the file.
    * It is removed on failure and at JVM exit (the success path must
    * outlive this call — Spark reads it lazily). */
  private def download(url: String): String = {
    val tmp = java.nio.file.Files.createTempFile("graft_rest", ".dat")
    tmp.toFile.deleteOnExit()
    try send("GET", url, None, HttpResponse.BodyHandlers.ofFile(tmp,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING), downloadPolicy).toString
    catch {
      case e: Throwable =>
        java.nio.file.Files.deleteIfExists(tmp)
        throw e
    }
  }

  // Custom error detection (reference: RestErrorHandler,
  // ankaflow/models/rest.py:157-171; rest/server.py:363,415-417): a
  // `condition` JMESPath evaluated truthy on an otherwise-OK response
  // raises, with the message extracted at `message` (or the whole body);
  // `error_status_codes` forces listed codes to be treated as errors.
  private def errorHandler: Map[String, Any] = submap(request, "errorhandler")

  private def errorStatusCodes: Set[Int] =
    errorHandler.get("error_status_codes") match {
      case Some(l: List[_]) => l.map(String.valueOf(_).toInt).toSet
      case _ => Set.empty
    }

  private def checkCustomError(body: String, url: String): Unit =
    str(errorHandler, "condition").foreach { cond =>
      val parsed = try Json.parse(body) catch { case _: Exception => null }
      if (parsed != null &&
        graft.template.Renderer.stringToBool(Api.look(List(cond, parsed, null)))) {
        val msg = str(errorHandler, "message")
          .flatMap(m => Option(Api.look(List(m, parsed, null))))
          .map(String.valueOf(_))
          .getOrElse(body.take(500))
        sys.error(s"REST error from $url: $msg")
      }
    }

  private def auth: Map[String, Any] = submap(client, "auth")
  private def isOAuth: Boolean =
    str(auth, "kind").exists(_.equalsIgnoreCase("oauth2"))

  private def authHeaders: Map[String, String] = auth match {
    case a if a.isEmpty => Map.empty
    case a => str(a, "kind").getOrElse("").toLowerCase match {
      case "basic" =>
        val cred = java.util.Base64.getEncoder.encodeToString(
          s"${str(a, "username").getOrElse("")}:${str(a, "password").getOrElse("")}"
            .getBytes("UTF-8"))
        Map("Authorization" -> s"Basic $cred")
      case "bearer" =>
        Map("Authorization" -> s"Bearer ${str(a, "token").getOrElse("")}")
      case "header" =>
        submap(a, "values").map { case (k, v) => k -> String.valueOf(v) }
      case "digest" => Map.empty // challenge-driven; resolved in exchange
      case "oauth2" => Map.empty // resolved per-attempt via oauthHeaders
      case other => sys.error(s"unsupported auth kind: $other")
    }
  }

  // ------------------------------------------------------------ Digest
  // RFC 7616 (MD5) challenge-response (reference: DigestAuthShim over
  // httpx.DigestAuth, rest/server.py:31-36): a 401 with WWW-Authenticate:
  // Digest is answered once with the computed Authorization header.
  private def isDigest: Boolean =
    str(auth, "kind").exists(_.equalsIgnoreCase("digest"))

  private var digestNc = 0

  /** Build the Authorization header for a Digest challenge. */
  private def digestAnswer(challenge: String, method: String,
      uri: String): String = {
    def param(k: String): Option[String] =
      (k + "=\"([^\"]*)\"").r.findFirstMatchIn(challenge).map(_.group(1))
        .orElse((k + "=([^,\\s]+)").r.findFirstMatchIn(challenge).map(_.group(1)))
    val realm = param("realm").getOrElse("")
    val nonce = param("nonce").getOrElse(sys.error("digest challenge has no nonce"))
    val qop = param("qop").map(_.split(",")(0).trim)
    val opaque = param("opaque")
    val user = str(auth, "username").getOrElse("")
    val pass = str(auth, "password").getOrElse("")
    val ha1 = Md5.hex(s"$user:$realm:$pass")
    val ha2 = Md5.hex(s"${method.toUpperCase}:$uri")
    digestNc += 1
    val nc = f"$digestNc%08x"
    val cnonce = Md5.hex(s"$nonce$digestNc") // deterministic client nonce
    val response = qop match {
      case Some(q) => Md5.hex(s"$ha1:$nonce:$nc:$cnonce:$q:$ha2")
      case None => Md5.hex(s"$ha1:$nonce:$ha2")
    }
    val base = Seq(
      s"""username="$user"""", s"""realm="$realm"""", s"""nonce="$nonce"""",
      s"""uri="$uri"""", s"""response="$response"""")
    val extra = qop.map(q => Seq(s"qop=$q", s"nc=$nc", s"""cnonce="$cnonce""""))
      .getOrElse(Nil) ++ opaque.map(o => s"""opaque="$o"""").toSeq
    "Digest " + (base ++ extra).mkString(", ")
  }

  // ------------------------------------------------------------ OAuth2
  // Reference: OAuth2Auth + token exchange (RFC 8693) / refresh flows,
  // ankaflow/connections/rest/server.py:58-211. The token call runs
  // through exchange under tokenPolicy; a 401 on an API call triggers
  // one refresh+retry (wired in exchange). Token state lives on
  // the resolved [[OAuth2Provider]]: `provider: <name>` looks it up in
  // the flow's oauthKeyring (rotations persist there and fire its
  // callbacks), `provider: {…}` defines one inline, and bare auth-level
  // config/refresh_token fields keep working as an anonymous inline
  // provider.
  private lazy val provider: OAuth2Provider = auth.get("provider") match {
    case Some(name: String) =>
      ctx.cfg.oauthKeyring.find(_.name == name).getOrElse(
        sys.error(s"Provider '$name' not found in keyring."))
    case Some(m: Map[_, _]) =>
      OAuth2Provider.fromMap(m.map { case (k, v) => k.toString -> v })
    case _ => OAuth2Provider.fromMap(auth)
  }

  private def accessToken: Option[String] = provider.accessToken
  private def accessToken_=(v: Option[String]): Unit = provider.accessToken = v
  private def refreshToken: Option[String] = provider.refreshToken
  private def refreshToken_=(v: Option[String]): Unit = provider.refreshToken = v

  private def oauthConfig: Map[String, Any] = provider.config

  private def oauthHeaders: Map[String, String] =
    if (!isOAuth) Map.empty
    else {
      if (accessToken.isEmpty) refreshTokens()
      val headerName = str(auth, "oauth_header").getOrElse("Authorization")
      accessToken.map { t =>
        val v = if (headerName == "Authorization") s"Bearer $t" else t
        Map(headerName -> v)
      }.getOrElse(Map.empty)
    }

  /** Fetch new tokens: refresh flow when a refresh_token is held, else
    * RFC 8693 token exchange (rest/server.py:152-189). */
  private def refreshTokens(): Unit = {
    val conf = oauthConfig
    val tokenUrl = str(conf, "access_token_url").getOrElse(
      sys.error("oauth2 requires config.access_token_url"))
    val base = refreshToken match {
      case Some(rt) => Map(
        "grant_type" -> "refresh_token",
        "refresh_token" -> rt)
      case None => Map(
        "grant_type" -> str(conf, "grant_type")
          .getOrElse("urn:ietf:params:oauth:grant-type:token-exchange"),
        "subject_token" -> provider.subjectToken
          .orElse(str(conf, "subject_token")).getOrElse(""),
        "subject_token_type" -> str(conf, "subject_token_type")
          .getOrElse("urn:ietf:params:oauth:token-type:refresh_token"),
        "requested_token_type" -> str(conf, "requested_token_type")
          .getOrElse("urn:ietf:params:oauth:token-type:access_token"))
    }
    val payload = base ++ Map(
      "client_id" -> str(conf, "client_id").getOrElse(""),
      "client_secret" -> str(conf, "client_secret").getOrElse("")) ++
      submap(conf, "extra_params").map { case (k, v) => k -> String.valueOf(v) }
    val form = payload.filter(_._2.nonEmpty).map { case (k, v) =>
      java.net.URLEncoder.encode(k, "UTF-8") + "=" +
        java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("&")

    val resp = exchange("POST", tokenUrl, Map(
      "Accept" -> "application/json",
      "Content-Type" -> "application/x-www-form-urlencoded"),
      Some(form), HttpResponse.BodyHandlers.ofString(), tokenPolicy)
    val code = resp.statusCode()
    if (code >= 400) {
      accessToken = None // kill switch (rest/server.py:126)
      // failure callback with the RFC 6749 error key when the
      // provider answered JSON, raw body excerpt otherwise
      // (rest/server.py:127-147), then fail the pipeline
      val (errMsg, body): (String, Any) =
        try {
          Json.parse(resp.body()) match {
            case m: Map[_, _] =>
              val mm = m.map { case (k, v) => k.toString -> v }
              (mm.get("error").map(String.valueOf(_))
                .getOrElse("unknown_error"), mm)
            case other => ("non_json_response", String.valueOf(other))
          }
        } catch {
          case _: Exception => ("non_json_response", resp.body().take(200))
        }
      provider.onRefreshFail(provider.name, Map(
        "error" -> errMsg, "status_code" -> code, "body" -> body))
      sys.error(s"OAuth2 token refresh failed: HTTP $code " +
        resp.body().take(200))
    }
    val data = Json.parse(resp.body()) match {
      case m: Map[_, _] => m.map { case (k, v) => k.toString -> v }
      case other => sys.error(s"token endpoint returned non-object: $other")
    }
    accessToken = data.get("access_token").map(String.valueOf(_))
    data.get("refresh_token").foreach(rt =>
      refreshToken = Some(String.valueOf(rt)))
    if (accessToken.isEmpty)
      sys.error("token endpoint response has no access_token")
    // success callback so the host can persist rotated tokens
    // (rest/server.py:121-123)
    provider.onTokenRefresh(provider.name, data)
  }

  private def buildUrl(endpoint: String, query: Map[String, Any]): String = {
    val base = str(client, "base_url").getOrElse("").stripSuffix("/")
    val qs =
      if (query.isEmpty) ""
      else "?" + query.map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "=" +
          java.net.URLEncoder.encode(String.valueOf(v), "UTF-8")
      }.mkString("&")
    s"$base/${endpoint.stripPrefix("/")}$qs"
  }

  /** Extract the record list at `locator` (JMESPath subset) from a
    * parsed page. */
  private def extractRecords(parsed: Any, locator: String): List[Any] = {
    val at = if (locator == null || locator.isEmpty) parsed
      else Api.look(List(locator, parsed, null))
    at match {
      case l: List[_] => l
      case null => Nil
      case m => List(m)
    }
  }

  /** "text/csv" / "application/vnd.apache.parquet" / "jsonl" / … → kind. */
  private def contentKind(ct: String): String = {
    val c = ct.toLowerCase
    if (c.contains("parquet")) "parquet"
    else if (c.contains("csv")) "csv"
    else if (c.contains("jsonl")) "jsonl"
    else "json"
  }

  /** Run the request + handler state machine; returns all record pages. */
  private def fetchAll(): Fetched = {
    val method = requestMethod("get")
    val response = submap(request, "response")
    val recLocator = str(response, "locator").getOrElse("")
    val handler = submap(response, "handler")
    val bodyTpl = request.get("body").map(Json.write)
    val baseQuery = submap(request, "query")

    /** Poll the request until `ready_status` is truthy, waiting ×1.5
      * from 1 s between polls (rest/rest.py:124-175); the ready
      * response, parsed. */
    def pollReady(): Any = {
      val readyLocator = str(handler, "ready_status").getOrElse("status")
      @annotation.tailrec
      def poll(wait: Double): Any = {
        val parsed = Json.parse(call(method, buildUrl(endpoint, baseQuery), bodyTpl))
        if (graft.template.Renderer.stringToBool(Api.look(List(readyLocator, parsed, null))))
          parsed
        else { Thread.sleep((wait * 1000).toLong); poll(wait * 1.5) }
      }
      poll(1.0)
    }

    str(handler, "kind").getOrElse("") match {
      // "Basic" is the reference's explicit single-request no-op handler
      // (models/rest.py ResponseHandlerTypes.BASIC); absent/empty means
      // the same thing.
      case k if k.isEmpty || k.equalsIgnoreCase("basic") =>
        Records(extractRecords(Json.parse(call(method,
          buildUrl(endpoint, baseQuery), bodyTpl)), recLocator))

      case "Pagination" =>
        // increment page_param per page; stop when page < page_size or
        // total_records reached (rest/rest.py:54-121)
        val pageParam = str(handler, "page_param").getOrElse("page")
        val pageSize = str(handler, "page_size").map(_.toInt).getOrElse(100)
        val increment = str(handler, "increment").map(_.toInt).getOrElse(1)
        val throttle = str(handler, "throttle").map(_.toDouble)
        val totalLocator = str(handler, "total_records").getOrElse("")
        val inBody = str(handler, "param_locator").contains("body")
        val bodyMap0: Map[String, Any] = request.get("body") match {
          case Some(m: Map[_, _]) => m.map { case (k, v) => k.toString -> v }
          case Some(s: String) => Json.parse(s) match {
            // a templated JSON-string body is fine as long as it's an object
            case m: Map[_, _] => m.map { case (k, v) => k.toString -> v }
            case other => sys.error(
              s"Pagination in body mode needs a JSON object body, got: $other")
          }
          case Some(other) => sys.error(
            s"Pagination in body mode needs an object body, got: $other")
          case None => Map.empty
        }
        val all = mutable.ListBuffer[Any]()
        // initial page comes from wherever the param lives (reference
        // reads req.body[page_param] in body mode, rest/rest.py:65)
        var page = (if (inBody) bodyMap0.get(pageParam)
          else baseQuery.get(pageParam))
          .map(String.valueOf(_).toInt).getOrElse(0)
        var continue = true
        while (continue) {
          val q = if (inBody) baseQuery else baseQuery + (pageParam -> page)
          // body mode always sends a body so the page param advances even
          // when no body template was configured
          val b = if (inBody) Some(Json.write(bodyMap0 + (pageParam -> page)))
          else bodyTpl
          val parsed = Json.parse(call(method, buildUrl(endpoint, q), b))
          val recs = extractRecords(parsed, recLocator)
          all ++= recs
          val total = if (totalLocator.nonEmpty)
            Option(Api.look(List(totalLocator, parsed, null)))
              .collect { case n: Number => n.longValue }
          else None
          continue = recs.size >= pageSize &&
            total.forall(t => all.size < t)
          page += increment
          if (continue) throttle.foreach(t => Thread.sleep((t * 1000).toLong))
        }
        Records(all.toList)

      case "StatePolling" =>
        // poll the same endpoint, then extract its records
        // (rest/rest.py:150-175)
        Records(extractRecords(pollReady(), recLocator))

      case "URLPolling" =>
        // poll until ready, then fetch the file at the locator URL. Its
        // payload kind comes from the response's content_type (DataType
        // enum; Materializer dispatches read_json/read_csv/read_parquet on
        // it, rest/common.py:124-140): JSON records are read in memory,
        // every other kind is streamed to a temp file.
        val urlLocator = str(handler, "locator")
          .orElse(Some(recLocator)).getOrElse("url")
        val fileUrl = String.valueOf(Api.look(List(urlLocator, pollReady(), null)))
        contentKind(str(response, "content_type").getOrElse("json")) match {
          case "json" => Records(extractRecords(Json.parse(call("GET", fileUrl, None)), ""))
          case kind => DataFile(download(fileUrl), kind)
        }

      case other => sys.error(s"unknown REST handler kind: $other")
    }
  }

  /** Materializer (rest/common.py:38-156): records → DataFrame; declared
    * `fields` stabilize empty/ragged responses. */
  override def tap(query: Option[String], limit: Option[Int]): DataFrame = {
    val declared = conn.fields
    val raw = fetchAll() match {
      case Records(records) =>
        FileFormats.jsonRows(spark, records.map(Json.write), declared)
      case DataFile(p, kind) => FileFormats.byName.getOrElse(kind,
        sys.error(s"unsupported content kind: $kind")).read(spark, p, declared)
    }
    finishTap(raw, query, limit)
  }

  /** Sink = fire the request; body may carry the previous stage's data
    * (rest/rest.py:329-330). */
  override def sink(from: DataFrame): Unit = {
    val body = request.get("body") match {
      case Some(b) => Json.write(b)
      case None => "[" + graft.core.Flow.guardedCollect(from,
        "Rest sink body", ctx.cfg.maxDriverRows).mkString(",") + "]"
    }
    call(requestMethod("post"), buildUrl(endpoint, submap(request, "query")), Some(body))
  }
}

object RestConnection {
  /** What sets one kind of request apart in the exchange loop; the loop
    * itself is the same for every request. */
  private final case class Policy(
      retries: Int,                 // budget for transport errors and 5xx
      transportWait: Int => Double, // seconds before transport retry n (0-based)
      statusWait: Int => Double,    // seconds before status retry n
      boundedRateLimit: Boolean,    // a 429 spends the budget like a 5xx
      timeout: Duration,            // per attempt, until the response headers
      api: Boolean)                 // the configured API: its auth and error_status_codes apply

  /** Fetch outcome: in-memory JSON records, or a downloaded data file
    * with its kind (the reference's Materializer accepts both,
    * rest/common.py:99-121 — files carry csv/parquet/jsonl payloads the
    * in-memory JSON path can't). */
  private sealed trait Fetched
  private final case class Records(rows: List[Any]) extends Fetched
  private final case class DataFile(path: String, kind: String) extends Fetched
}
