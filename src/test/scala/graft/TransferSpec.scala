package graft

import graft.operators.Transfer
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** K2/J3 — port of the reference transfer test
  * (`lambdas/data-transfer/tests/test_handler.py:4-24`): key layout
  * `{directory|file-staging}/{collection}/{filename}`, byte equality,
  * payload rewrite — against the local filesystem. */
class TransferSpec extends SparkSuite {
  import spark.implicits._

  test("copy: key layout + byte equality + url rewrite (reference golden)") {
    val src = Files.createTempDirectory("xfer-src")
    val dst = Files.createTempDirectory("xfer-dst")
    val data = "test-object".getBytes
    Files.write(src.resolve("test-key"), data)

    // directory explicitly empty, like the reference test event
    val objs = Seq(1).toDF("i").select(
      lit("test_collection").as("collection"),
      lit(s"file://$src/test-key").as("remote_fileurl"),
      lit(true).as("upload"),
      lit(false).as("user_shared"),
      lit(false).as("cogify"),
      map(lit("directory"), lit("")).as("extra"))

    val planned = Transfer.plan(objs, s"file://$dst")
    val out = Transfer.execute(planned).collect().head
    val url = out.getString(out.fieldIndex("remote_fileurl"))
    assert(url == s"file://$dst/test_collection/test-key")
    val copied = Paths.get(s"$dst/test_collection/test-key")
    assert(Files.exists(copied))
    assert(Files.readAllBytes(copied).toSeq == data.toSeq)
  }

  test("http source downloads via authenticated GET (S7 golden)") {
    val dst = Files.createTempDirectory("xfer-http-dst")
    // deterministic binary payload (not UTF-8 clean — catches any
    // string-decode corruption in the fetch path)
    val data = (0 until 1024).map(i => ((i * 31 + 7) % 256).toByte).toArray
    val seenAuth = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/data/granule.bin",
      (x: com.sun.net.httpserver.HttpExchange) => {
        val auth = Option(
          x.getRequestHeaders.getFirst("Authorization")).getOrElse("")
        seenAuth.add(auth)
        if (auth != "Bearer edl-token-1") {
          x.sendResponseHeaders(403, -1); x.close()
        } else {
          x.sendResponseHeaders(200, data.length)
          val os = x.getResponseBody; os.write(data); os.close()
        }
      })
    server.start()
    try {
      val url =
        s"http://127.0.0.1:${server.getAddress.getPort}/data/granule.bin"
      val objs = Seq(1).toDF("i").select(
        lit("c").as("collection"),
        lit(url).as("remote_fileurl"),
        lit(true).as("upload"),
        lit(false).as("user_shared"),
        lit(false).as("cogify"),
        map(lit("directory"), lit("")).as("extra"))
      val planned = Transfer.plan(objs, s"file://$dst")
      val out = Transfer.execute(planned,
        Transfer.HttpAuth(bearerToken = Some("edl-token-1")))
        .collect().head
      assert(out.getString(out.fieldIndex("remote_fileurl")) ==
        s"file://$dst/c/granule.bin")
      val copied = Paths.get(s"$dst/c/granule.bin")
      assert(Files.readAllBytes(copied).toSeq == data.toSeq)
      import scala.jdk.CollectionConverters._
      assert(seenAuth.asScala.forall(_ == "Bearer edl-token-1"))
    } finally server.stop(0)
  }

  test("URS redirect-flow auth: cookies per host, creds only to URS") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val dst = Files.createTempDirectory("xfer-urs-dst")
    val data = (0 until 2048).map(i => ((i * 17 + 3) % 256).toByte).toArray
    val dataHostAuth =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val goodBasic = "Basic " + java.util.Base64.getEncoder
      .encodeToString("edluser:edlpass".getBytes("UTF-8"))

    // auth server (the URS stand-in): Basic creds -> token redirect
    val auth = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    auth.createContext("/login", (x: HttpExchange) => {
      val got = Option(
        x.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      val back = x.getRequestURI.getQuery.stripPrefix("back=")
      if (got != goodBasic) { x.sendResponseHeaders(401, -1); x.close() }
      else {
        x.getResponseHeaders.add("Location", s"$back?token=tok42")
        x.sendResponseHeaders(302, -1); x.close()
      }
    })
    auth.start()
    val authPort = auth.getAddress.getPort

    // data server: unauthenticated -> redirect to URS; token redirect
    // -> set own session cookie and bounce to the clean URL; cookie ->
    // serve. Mirrors the Earthdata data-host side of the URS dance.
    val dataSrv = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    dataSrv.createContext("/urs/granule.bin", (x: HttpExchange) => {
      dataHostAuth.add(Option(
        x.getRequestHeaders.getFirst("Authorization")).getOrElse(""))
      val query = Option(x.getRequestURI.getQuery).getOrElse("")
      val cookie = Option(
        x.getRequestHeaders.getFirst("Cookie")).getOrElse("")
      val selfUrl = s"http://127.0.0.1:${dataSrv.getAddress.getPort}" +
        "/urs/granule.bin"
      if (cookie.contains("session=abc")) {
        x.sendResponseHeaders(200, data.length)
        val os = x.getResponseBody; os.write(data); os.close()
      } else if (query.contains("token=tok42")) {
        x.getResponseHeaders.add("Set-Cookie",
          "session=abc; Path=/; HttpOnly")
        x.getResponseHeaders.add("Location", selfUrl)
        x.sendResponseHeaders(302, -1); x.close()
      } else {
        x.getResponseHeaders.add("Location",
          s"http://127.0.0.1:$authPort/login?back=$selfUrl")
        x.sendResponseHeaders(302, -1); x.close()
      }
    })
    dataSrv.start()
    try {
      val url = s"http://127.0.0.1:${dataSrv.getAddress.getPort}" +
        "/urs/granule.bin"
      def planOne() = Transfer.plan(
        Seq(1).toDF("i").select(
          lit("c").as("collection"), lit(url).as("remote_fileurl"),
          lit(true).as("upload"), lit(false).as("user_shared"),
          lit(false).as("cogify"),
          map(lit("directory"), lit("")).as("extra")),
        s"file://$dst")
      val urs = Transfer.UrsAuth("edluser", "edlpass",
        authHost = s"127.0.0.1:$authPort")
      val out = Transfer.execute(planOne(),
        Transfer.HttpAuth(urs = Some(urs))).collect().head
      assert(out.getString(out.fieldIndex("remote_fileurl")) ==
        s"file://$dst/c/granule.bin")
      assert(Files.readAllBytes(
        Paths.get(s"$dst/c/granule.bin")).toSeq == data.toSeq)
      // the data host never saw the credentials — only URS did
      import scala.jdk.CollectionConverters._
      assert(dataHostAuth.asScala.nonEmpty &&
        dataHostAuth.asScala.forall(_ == ""))

      // wrong password: 401 at URS -> failure, and no target file
      Files.delete(Paths.get(s"$dst/c/granule.bin"))
      intercept[org.apache.spark.SparkException] {
        Transfer.execute(planOne(), Transfer.HttpAuth(
          urs = Some(urs.copy(password = "wrong")))).collect()
      }
      assert(Files.notExists(Paths.get(s"$dst/c/granule.bin")))
    } finally { dataSrv.stop(0); auth.stop(0) }
  }

  test("URS creds never ride plain http to a non-loopback auth host") {
    // the redirect chain would reach the auth host over http:// — the
    // client must refuse BEFORE opening a connection (no DNS, no
    // socket, no cleartext Authorization header). Loopback fixtures
    // (above) are exempt; a routable host is not.
    val ex = intercept[java.io.IOException] {
      graft.sources.dsv2.HttpPages.downloadUrs(
        "http://auth.invalid/login", "u", "p",
        authHost = "auth.invalid",
        openOut = () => new java.io.ByteArrayOutputStream(),
        retries = 0)
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("refusing to send credentials"), msgs)
  }

  test("http failures leave NO file at the target (atomicity for re-runs)") {
    val dst = Files.createTempDirectory("xfer-http-fail")
    val hits = new java.util.concurrent.atomic.AtomicInteger()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // redirect endpoint: must never materialize a target file
    server.createContext("/redirect.bin",
      (x: com.sun.net.httpserver.HttpExchange) => {
        x.getResponseHeaders.add("Location", "http://127.0.0.1:1/x")
        x.sendResponseHeaders(302, -1); x.close()
      })
    // truncating endpoint: advertises more bytes than it sends, so the
    // copy dies mid-stream on every attempt
    server.createContext("/truncated.bin",
      (x: com.sun.net.httpserver.HttpExchange) => {
        hits.incrementAndGet()
        x.sendResponseHeaders(200, 1 << 20)
        x.getResponseBody.write(new Array[Byte](1024))
        x.close()
      })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      def planOne(url: String) = Transfer.plan(
        Seq(1).toDF("i").select(
          lit("c").as("collection"), lit(url).as("remote_fileurl"),
          lit(true).as("upload"), lit(false).as("user_shared"),
          lit(false).as("cogify"),
          map(lit("directory"), lit("")).as("extra")),
        s"file://$dst")
      intercept[org.apache.spark.SparkException] {
        Transfer.execute(planOne(s"$base/redirect.bin")).collect()
      }
      intercept[org.apache.spark.SparkException] {
        Transfer.execute(planOne(s"$base/truncated.bin")).collect()
      }
      // neither the target nor a temp file survives a failed fetch
      val leftover = Files.list(Paths.get(s"$dst"))
        .toArray.map(_.toString).filter(!_.endsWith("xfer-http-fail"))
      assert(Files.notExists(Paths.get(s"$dst/c/redirect.bin")))
      assert(Files.notExists(Paths.get(s"$dst/c/truncated.bin")))
      val cDir = Paths.get(s"$dst/c")
      if (Files.exists(cDir))
        assert(Files.list(cDir).toArray.isEmpty,
          s"leftover files: ${Files.list(cDir).toArray.mkString(",")}")
      assert(hits.get() >= 2) // the truncating fetch was retried
    } finally server.stop(0)
  }

  test("default directory is file-staging; eligibility skips cogify/no-upload") {
    val objs = Seq(
      ("s3://b/k/f1.tif", true, false),   // upload, no cogify -> copy
      ("s3://b/k/f2.tif", true, true),    // cogify handles its own upload
      ("s3://b/k/f3.tif", false, false))  // no upload
      .toDF("remote_fileurl", "upload", "cogify")
      .withColumn("collection", lit("c"))
      .withColumn("user_shared", lit(false))
      .withColumn("extra", lit(null).cast("map<string,string>"))
    val planned = Transfer.plan(objs, "s3://dst")
    val rows = planned.select("remote_fileurl", "transfer_eligible",
      "target_url").collect()
    val byUrl = rows.map(r => r.getString(0) ->
      (r.getBoolean(1), Option(r.getString(2)))).toMap
    assert(byUrl("s3://b/k/f1.tif") ==
      (true, Some("s3://dst/file-staging/c/f1.tif")))
    assert(byUrl("s3://b/k/f2.tif")._1 == false)
    assert(byUrl("s3://b/k/f3.tif")._1 == false)
  }

  test("NULL cogify/upload flags read as false — plan and execute survive") {
    val src = Files.createTempDirectory("xfer-src2")
    Files.write(src.resolve("n.tif"), "x".getBytes)
    val objs = Seq(
      (s"file://$src/n.tif", Some(true), None: Option[Boolean]), // cogify NULL
      (s"file://$src/n.tif", None: Option[Boolean], Some(true))) // upload NULL
      .toDF("remote_fileurl", "upload", "cogify")
      .withColumn("collection", lit("c"))
      .withColumn("user_shared", lit(null).cast("boolean"))
      .withColumn("extra", lit(null).cast("map<string,string>"))
    val dst = Files.createTempDirectory("xfer-dst2")
    val planned = Transfer.plan(objs, s"file://$dst")
    val elig = planned.select("transfer_eligible").collect()
      .map(r => r.isNullAt(0) -> (!r.isNullAt(0) && r.getBoolean(0)))
    assert(elig.forall(!_._1), "transfer_eligible must never be NULL")
    assert(elig.map(_._2).toSeq == Seq(true, false))
    // the NULL-cogify row is eligible and copies without NPE
    val out = Transfer.execute(planned).collect()
    assert(out.length == 2)
    assert(Files.exists(Paths.get(s"$dst/file-staging/c/n.tif")))
  }

  test("user_shared routes to the shared bucket") {
    val objs = Seq(("s3://b/f.tif", true)).toDF("remote_fileurl", "user_shared")
      .withColumn("collection", lit("c"))
      .withColumn("upload", lit(true))
      .withColumn("cogify", lit(false))
      .withColumn("extra", lit(null).cast("map<string,string>"))
    val planned = Transfer.plan(objs, "s3://main", Some("s3://shared"))
    assert(planned.select("target_url").collect().head.getString(0) ==
      "s3://shared/file-staging/c/f.tif")
  }

  test("skipExisting drops exactly the existing keys (J3 at scale)") {
    val objs = (1 to 200).map(i => s"s3://b/p/f$i.tif")
      .toDF("remote_fileurl")
      .withColumn("collection", lit("c"))
      .withColumn("upload", lit(true))
      .withColumn("cogify", lit(false))
      .withColumn("user_shared", lit(false))
      .withColumn("extra", lit(null).cast("map<string,string>"))
    val planned = Transfer.plan(objs, "s3://dst")
    val existing = (1 to 200 by 3)
      .map(i => s"file-staging/c/f$i.tif").toDF("key")
    val exact = Transfer.skipExisting(planned, existing)
      .select("remote_fileurl").collect().map(_.getString(0)).sorted
    assert(exact.length == 200 - 67)
    assert(exact.toSeq == (1 to 200).filter(i => i % 3 != 1)
      .map(i => s"s3://b/p/f$i.tif").sorted)
  }

  test("skipExisting drops rows whose target key already exists (J3)") {
    val objs = Seq("s3://b/p/a.tif", "s3://b/p/b.tif")
      .toDF("remote_fileurl")
      .withColumn("collection", lit("c"))
      .withColumn("upload", lit(true))
      .withColumn("cogify", lit(false))
      .withColumn("user_shared", lit(false))
      .withColumn("extra", lit(null).cast("map<string,string>"))
    val planned = Transfer.plan(objs, "s3://dst")
    val existing = Seq("file-staging/c/a.tif").toDF("key")
    val left = Transfer.skipExisting(planned, existing)
      .select("remote_fileurl").collect().map(_.getString(0))
    assert(left.toSeq == Seq("s3://b/p/b.tif"))
  }
}
