package graft.sources.dsv2

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets

/** Minimal HTTP page client — the live half of the S3 CMR source
  * (reference `cmr-query/handler.py:104-151`): CMR's
  * `search/granules.json` is paged with `page_num` / `page_size` query
  * params and reports the total match count in the `CMR-Hits` response
  * header, which drives the reference's keep-paging decision
  * (`hits > limit * page`, handler.py:145) and here drives
  * partition planning (total pages known up front, one partition per
  * page). java.net only — no HTTP client dependency; zero-egress test
  * environments exercise it against a loopback fixture server.
  */
object HttpPages extends Serializable {

  final case class Response(status: Int, headers: Map[String, String],
                            body: String)

  private def isHttpUrl(s: String): Boolean =
    s.startsWith("http://") || s.startsWith("https://")

  def isHttp(locator: String): Boolean = isHttpUrl(locator)

  /** Bounded retry on IO errors and 5xx (each Spark task retry adds
    * another layer above this); `attempt` returns the response status
    * so 5xx can trigger a retry too. */
  private def withRetries[T](desc: String, retries: Int)
                            (attempt: () => (Int, T)): (Int, T) = {
    var last: Throwable = null
    var n = 0
    while (n <= retries) {
      try {
        val (status, v) = attempt()
        if (status < 500) return (status, v)
        last = new java.io.IOException(s"HTTP $status from $desc")
      } catch { case e: java.io.IOException => last = e }
      n += 1
      if (n <= retries) Thread.sleep(200L * n)
    }
    throw new java.io.IOException(
      s"$desc failed after ${retries + 1} attempts", last)
  }

  /** GET with bounded retries on IO errors and 5xx. */
  def get(url: String, headers: Map[String, String] = Map.empty,
          connectTimeoutMs: Int = 10000, readTimeoutMs: Int = 60000,
          retries: Int = 2): Response = {
    val (_, r) = withRetries(s"GET $url", retries)(() => {
      val r = request(url, "GET", headers, None, connectTimeoutMs,
        readTimeoutMs)
      (r.status, r)
    })
    r
  }

  /** Single POST, no retry — callers own the retry policy (e.g. the
    * publication sink's selective-retry loop). */
  def post(url: String, headers: Map[String, String], body: String,
           connectTimeoutMs: Int = 10000, readTimeoutMs: Int = 60000)
  : Response =
    request(url, "POST", headers, Some(body), connectTimeoutMs,
      readTimeoutMs)

  private def request(url: String, method: String,
                      headers: Map[String, String], body: Option[String],
                      connectTimeoutMs: Int, readTimeoutMs: Int): Response = {
    // Redirects are handled EXPLICITLY with host-scoped auth: the
    // JDK's transparent follow re-sends every request property, so a
    // 302 to a third-party host would leak the caller's bearer token
    // (the downloadUrs security contract, applied here), and the JDK
    // refuses cross-protocol hops so the ubiquitous http→https
    // upgrade would fail with a raw 301. Authorization is forwarded
    // only to the ORIGINAL host:port and never on an https→http
    // downgrade; GET only, capped hops.
    val orig = new URL(url)
    def hostKey(u: URL): String = {
      val p = if (u.getPort >= 0) u.getPort else u.getDefaultPort
      s"${u.getHost}:$p"
    }
    var cur = url
    var hops = 0
    while (hops < 8) {
      val target = new URL(cur)
      val sameHost = hostKey(target) == hostKey(orig)
      val downgrade =
        orig.getProtocol == "https" && target.getProtocol != "https"
      val hdrs =
        if (sameHost && !downgrade) headers
        else headers.filterNot(_._1.equalsIgnoreCase("Authorization"))
      val r = requestOnce(cur, method, hdrs, body, connectTimeoutMs,
        readTimeoutMs)
      val loc = r.headers.get("location")
      if (method == "GET" && (r.status == 301 || r.status == 302 ||
          r.status == 303 || r.status == 307 || r.status == 308) &&
          loc.exists(_.nonEmpty)) {
        cur = new URL(target, loc.get).toString
        hops += 1
      } else return r
    }
    throw new java.io.IOException(s"too many redirects from $url")
  }

  private def requestOnce(url: String, method: String,
                          headers: Map[String, String],
                          body: Option[String],
                          connectTimeoutMs: Int, readTimeoutMs: Int)
  : Response = {
    val conn = open(url, method, headers, connectTimeoutMs, readTimeoutMs)
    conn.setInstanceFollowRedirects(false)
    try {
      body.foreach { b =>
        conn.setDoOutput(true)
        val os = conn.getOutputStream
        try os.write(b.getBytes(StandardCharsets.UTF_8))
        finally os.close()
      }
      val status = conn.getResponseCode
      val stream =
        if (status >= 400) conn.getErrorStream else conn.getInputStream
      val respBody =
        if (stream == null) ""
        else try new String(stream.readAllBytes(), StandardCharsets.UTF_8)
        finally stream.close()
      import scala.jdk.CollectionConverters._
      val hs = conn.getHeaderFields.asScala.collect {
        case (k, vs) if k != null =>
          k.toLowerCase -> vs.asScala.mkString(",")
      }.toMap
      Response(status, hs, respBody)
    } finally conn.disconnect()
  }

  /** Streaming GET → OutputStream: the large-file transfer path (the
    * whole body never sits in executor memory). `openOut` is invoked
    * once per attempt so a retry restarts with a fresh (truncated)
    * sink. The sink is only opened for an exact HTTP 200 — a redirect
    * or no-content response must never materialize a target file.
    * Returns bytes copied; any non-200 throws (5xx after retries). */
  def download(url: String, headers: Map[String, String],
               openOut: () => java.io.OutputStream,
               connectTimeoutMs: Int = 10000, readTimeoutMs: Int = 120000,
               retries: Int = 2): Long = {
    val (status, copied) = withRetries(s"GET $url", retries)(() => {
      val conn = open(url, "GET", headers, connectTimeoutMs, readTimeoutMs)
      try {
        val status = conn.getResponseCode
        if (status != 200) (status, 0L)
        else {
          val in = conn.getInputStream
          val out = openOut()
          try {
            val chunk = new Array[Byte](1 << 16)
            var total = 0L
            var n = in.read(chunk)
            while (n >= 0) {
              out.write(chunk, 0, n); total += n; n = in.read(chunk)
            }
            // a dropped connection can read as a clean EOF — verify
            // against Content-Length so a truncated body retries
            // instead of passing as a completed copy
            val expected = conn.getContentLengthLong
            if (expected >= 0 && total != expected)
              throw new java.io.IOException(
                s"truncated body: $total of $expected bytes from $url")
            (status, total)
          } finally {
            try in.close() finally out.close()
          }
        }
      } finally conn.disconnect()
    })
    if (status != 200)
      throw new java.io.IOException(s"HTTP $status from $url")
    copied
  }

  private def open(url: String, method: String,
                   headers: Map[String, String], connectTimeoutMs: Int,
                   readTimeoutMs: Int): HttpURLConnection = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(connectTimeoutMs)
    conn.setReadTimeout(readTimeoutMs)
    conn.setRequestMethod(method)
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    conn
  }

  /** Earthdata-URS redirect-flow download (the reference's
    * `requests.Session` + basic-auth dance, `cogify/handler.py:64-86`):
    * the data host 302-redirects to the auth host, which validates
    * Basic credentials, hands back a session cookie, and redirects to
    * the data host where the cookie authorizes the download.
    *
    * Security contract: the Basic Authorization header is presented
    * ONLY to `authHost` ("host" or "host:port") — never to the data
    * host or any other hop — and cookies are replayed only to the host
    * that set them. Redirect chains are capped at `maxHops`. The sink
    * opens only on a final HTTP 200 (same atomicity contract as
    * [[download]]). */
  def downloadUrs(url: String, username: String, password: String,
                  authHost: String,
                  openOut: () => java.io.OutputStream,
                  connectTimeoutMs: Int = 10000,
                  readTimeoutMs: Int = 120000,
                  retries: Int = 2, maxHops: Int = 8): Long = {
    val basic = "Basic " + java.util.Base64.getEncoder.encodeToString(
      s"$username:$password".getBytes(StandardCharsets.UTF_8))
    def hostKey(u: URL): String = {
      val p = if (u.getPort >= 0) u.getPort else u.getDefaultPort
      s"${u.getHost}:$p"
    }
    def isAuthHost(u: URL): Boolean =
      if (authHost.contains(":")) hostKey(u) == authHost
      else u.getHost == authHost
    val (status, copied) = withRetries(s"GET $url", retries)(() => {
      // cookie jar scoped to one attempt: host:port -> name -> value
      val jar = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.Map[String, String]]
      var cur = new URL(url)
      var hops = 0
      var result: Option[(Int, Long)] = None
      while (result.isEmpty) {
        if (hops > maxHops)
          throw new java.io.IOException(
            s"redirect chain exceeded $maxHops hops from $url")
        val hdrs = scala.collection.mutable.Map.empty[String, String]
        jar.get(hostKey(cur)).filter(_.nonEmpty).foreach { cs =>
          hdrs += "Cookie" -> cs.map { case (k, v) => s"$k=$v" }
            .mkString("; ")
        }
        if (isAuthHost(cur)) {
          // credentials ride ONLY on TLS: a redirect chain reaching
          // the auth host over plain http would transmit the Basic
          // credentials in cleartext — fail the attempt instead
          // (loopback test fixtures are exempt; there is no TLS
          // listener in the test harness and localhost never leaves
          // the machine)
          val loopback = cur.getHost == "localhost" ||
            cur.getHost == "127.0.0.1" || cur.getHost == "[::1]"
          if (cur.getProtocol != "https" && !loopback)
            throw new java.io.IOException(
              s"refusing to send credentials to non-https auth host $cur")
          hdrs += "Authorization" -> basic
        }
        val conn = open(cur.toString, "GET", hdrs.toMap,
          connectTimeoutMs, readTimeoutMs)
        conn.setInstanceFollowRedirects(false)
        try {
          val status = conn.getResponseCode
          // bank Set-Cookie for THIS host before deciding what's next
          // (header-name case varies by server: match insensitively)
          import scala.jdk.CollectionConverters._
          conn.getHeaderFields.asScala.foreach { case (k, vs) =>
            if (k != null && k.equalsIgnoreCase("Set-Cookie"))
              vs.asScala.foreach { sc =>
                val nv = sc.split(";", 2)(0).split("=", 2)
                if (nv.length == 2)
                  jar.getOrElseUpdate(hostKey(cur),
                    scala.collection.mutable.Map.empty)
                    .update(nv(0).trim, nv(1).trim)
              }
          }
          if (status == 301 || status == 302 || status == 303 ||
              status == 307 || status == 308) {
            val loc = Option(conn.getHeaderField("Location")).getOrElse(
              throw new java.io.IOException(
                s"HTTP $status without Location from $cur"))
            cur = new URL(cur, loc) // resolves relative redirects
            hops += 1
          } else if (status == 200) {
            val in = conn.getInputStream
            val out = openOut()
            try {
              val chunk = new Array[Byte](1 << 16)
              var total = 0L
              var n = in.read(chunk)
              while (n >= 0) {
                out.write(chunk, 0, n); total += n; n = in.read(chunk)
              }
              val expected = conn.getContentLengthLong
              if (expected >= 0 && total != expected)
                throw new java.io.IOException(
                  s"truncated body: $total of $expected bytes from $cur")
              result = Some((status, total))
            } finally {
              try in.close() finally out.close()
            }
          } else {
            result = Some((status, 0L))
          }
        } finally conn.disconnect()
      }
      result.get
    })
    if (status != 200)
      throw new java.io.IOException(s"HTTP $status from $url")
    copied
  }

  /** Append pagination params, preserving any query already present
    * (the reference builds `...&page_size={limit}&page_num={page}`,
    * handler.py:128-131). */
  def pageUrl(endpoint: String, page: Int, pageSize: Int): String = {
    val sep = if (endpoint.contains("?")) "&" else "?"
    s"$endpoint${sep}page_size=$pageSize&page_num=$page"
  }

  /** Total matching granules via a page_size=1 probe — the `CMR-Hits`
    * response header (handler.py:137). */
  def hits(endpoint: String, headers: Map[String, String]): Long = {
    val r = get(pageUrl(endpoint, page = 1, pageSize = 1), headers)
    require(r.status == 200,
      s"CMR hits probe failed: HTTP ${r.status} ${r.body.take(200)}")
    r.headers.getOrElse("cmr-hits", throw new IllegalStateException(
      s"no CMR-Hits header in response from $endpoint")).toLong
  }

  /** Page body → granule JSON strings: `feed.entry` (the live CMR
    * response shape, handler.py:140) or a bare JSON array (fixture
    * page files). */
  def entries(body: String): Iterator[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(body)
    val arr = if (node.has("feed")) node.get("feed").get("entry") else node
    require(arr != null && arr.isArray,
      "expected a feed.entry object or a JSON array page")
    import scala.jdk.CollectionConverters._
    arr.elements().asScala.map(_.toString).toList.iterator
  }

  /** Earthdata-style bearer token header. */
  def authHeaders(token: Option[String]): Map[String, String] =
    token.map(t => Map("Authorization" -> s"Bearer $t")).getOrElse(Map.empty)
}
