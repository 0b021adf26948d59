package graft.loader

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.SparkSpec

/** FLASH SciCat metadata retriever against a LIVE local HTTP stub —
  * the DatasetsSpec/Epics pattern: URL construction, token auth
  * headers, the new→old dataset URL fallback, failure tolerance, and
  * the multi-run merge semantics, all per
  * `sed/loader/flash/metadata.py:19-124`; plus the loader wiring
  * (`readRuns(collectMetadata=true)`, `loader.py:839-846,929`) against
  * the real FLASH HEXTOF fixture.
  */
class ScicatMetadataSpec extends SparkSpec with graft.FixtureReport {

  private def serve(handler: HttpExchange => Unit): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      try handler(ex) finally ex.close()
    })
    server.start()
    server
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    if (bytes.isEmpty) ex.sendResponseHeaders(code, -1)
    else {
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
    }
  }

  private def base(server: HttpServer): String =
    s"http://127.0.0.1:${server.getAddress.getPort}/api/v3"

  test("URL construction and pid reformatting match the reference") {
    assert(ScicatMetadata.reformatPid("11013410/43878") === "11013410%2F43878")
    assert(ScicatMetadata.newDatasetUrl("https://cat/api/v3", "11013410/43878")
      === "https://cat/api/v3/Datasets/11013410%2F43878")
    assert(ScicatMetadata.oldDatasetUrl("https://cat/api/v3", "11013410/43878")
      === "https://cat/api/v3/Datasets/%2F11013410%2F43878")
  }

  test("config requires BOTH url and token; explicit token overrides") {
    intercept[IllegalArgumentException](
      ScicatMetadata.configFrom(Map("scicat_url" -> "https://cat")))
    intercept[IllegalArgumentException](
      ScicatMetadata.configFrom(Map("scicat_token" -> "tok")))
    intercept[IllegalArgumentException](ScicatMetadata.Config("", "tok"))
    val c = ScicatMetadata.configFrom(
      Map("scicat_url" -> "https://cat", "scicat_token" -> "cfgTok"),
      scicatToken = Some("override"))
    assert(c.token === "override" && c.url === "https://cat")
  }

  test("config refuses non-http(s) catalogue URLs at construction — a" +
      " file:// URL must be a named config error, not a mid-load CCE") {
    val e = intercept[IllegalArgumentException](
      ScicatMetadata.Config("file:///etc/catalogue", "tok"))
    assert(e.getMessage.contains("http(s)"))
    intercept[IllegalArgumentException](
      ScicatMetadata.Config("jar:file:///a.jar!/x", "tok"))
    intercept[IllegalArgumentException](ScicatMetadata.configFrom(
      Map("scicat_url" -> "ftp://cat", "scicat_token" -> "tok")))
    // plain http and https both construct
    ScicatMetadata.Config("http://cat", "tok")
    ScicatMetadata.Config("https://cat", "tok")
  }

  test("new-URL deployment: bearer token + JSON headers sent, metadata" +
      " parsed to plain Scala values") {
    val seenAuth = new java.util.concurrent.atomic.AtomicReference[String]
    val server = serve { ex =>
      seenAuth.set(ex.getRequestHeaders.getFirst("Authorization"))
      if (ex.getRequestURI.toString == "/api/v3/Datasets/11013410%2F43878" &&
          ex.getRequestHeaders.getFirst("Accept") == "application/json")
        respond(ex, 200,
          """{"pid":"11013410/43878","sampleName":"WSe2",
            |"runNumber":43878,"energy":36.5,"tags":["hextof","trARPES"],
            |"creationLocation":{"facility":"FLASH","beamline":"PG2"}}"""
            .stripMargin)
      else respond(ex, 404, """{"error":"not found"}""")
    }
    try {
      val cfg = ScicatMetadata.Config(base(server), "tok123")
      val m = ScicatMetadata.getMetadata(cfg, "11013410", Seq("43878"))
      assert(seenAuth.get === "Bearer tok123")
      assert(m("sampleName") === "WSe2")
      assert(m("runNumber") === 43878L)
      assert(m("energy") === 36.5)
      assert(m("tags") === Seq("hextof", "trARPES"))
      assert(m("creationLocation") ===
        Map("facility" -> "FLASH", "beamline" -> "PG2"))
    } finally server.stop(0)
  }

  test("old deployment: empty-body success on the new URL falls back to" +
      " the old %2F-prefixed form") {
    val newHits = new AtomicInteger(0)
    val oldHits = new AtomicInteger(0)
    val server = serve { ex =>
      ex.getRequestURI.toString match {
        case "/api/v3/Datasets/11013410%2F43878" =>
          newHits.incrementAndGet(); respond(ex, 200, "")
        case "/api/v3/Datasets/%2F11013410%2F43878" =>
          oldHits.incrementAndGet()
          respond(ex, 200, """{"sampleName":"TaS2","old":true}""")
        case _ => respond(ex, 404, "")
      }
    }
    try {
      val cfg = ScicatMetadata.Config(base(server), "tok")
      val m = ScicatMetadata.getMetadata(cfg, "11013410", Seq("43878"))
      assert(newHits.get === 1 && oldHits.get === 1)
      assert(m("sampleName") === "TaS2")
      assert(m("old") === true)
    } finally server.stop(0)
  }

  test("failures tolerate: non-2xx and unreachable server both yield an" +
      " empty map, never an exception (outage must not fail the load)") {
    val server = serve(ex => respond(ex, 500, """{"error":"boom"}"""))
    try {
      val cfg = ScicatMetadata.Config(base(server), "tok")
      assert(ScicatMetadata.getMetadata(cfg, "bt", Seq("1")) === Map.empty)
    } finally server.stop(0)
    // stopped server: connection refused
    val dead = ScicatMetadata.Config(
      s"http://127.0.0.1:${server.getAddress.getPort}/api/v3", "tok",
      timeoutMs = 1500)
    assert(ScicatMetadata.getMetadata(dead, "bt", Seq("1")) === Map.empty)
    // malformed JSON body: warned, empty — not a parse crash
    val bad = serve(ex => respond(ex, 200, "{not json"))
    try {
      val cfg = ScicatMetadata.Config(base(bad), "tok")
      assert(ScicatMetadata.getMetadata(cfg, "bt", Seq("1")) === Map.empty)
    } finally bad.stop(0)
  }

  test("redirects: same-host hop followed WITH the token; cross-host" +
      " hop followed WITHOUT it; a redirect loop degrades to empty") {
    // cross-host target: bound to `localhost` (a different host STRING
    // than 127.0.0.1 — the same-host rule compares hosts, like
    // python-requests' auth-stripping rule)
    val crossAuth = new java.util.concurrent.atomic.AtomicReference[String]("unset")
    val crossServer = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    crossServer.createContext("/", (ex: HttpExchange) => {
      try {
        crossAuth.set(ex.getRequestHeaders.getFirst("Authorization"))
        respond(ex, 200, """{"from":"cross"}""")
      } finally ex.close()
    })
    crossServer.start()
    val sameAuth = new java.util.concurrent.atomic.AtomicReference[String]("unset")
    val server = serve { ex =>
      val uri = ex.getRequestURI.toString
      if (uri.startsWith("/api/v3/Datasets/same%2F1")) {
        // same-protocol, same-host redirect to a sibling path
        ex.getResponseHeaders.add("Location", "/api/v3/moved/same")
        respond(ex, 302, "")
      } else if (uri == "/api/v3/moved/same") {
        sameAuth.set(ex.getRequestHeaders.getFirst("Authorization"))
        respond(ex, 200, """{"from":"same"}""")
      } else if (uri.startsWith("/api/v3/Datasets/cross%2F1")) {
        ex.getResponseHeaders.add("Location",
          s"http://localhost:${crossServer.getAddress.getPort}/catalogue")
        respond(ex, 302, "")
      } else if (uri.startsWith("/api/v3/Datasets/loop%2F1")) {
        ex.getResponseHeaders.add("Location", uri) // redirect to itself
        respond(ex, 302, "")
      } else if (uri.startsWith("/api/v3/Datasets/noloc%2F1")) {
        respond(ex, 302, "") // 302 with NO Location header
      } else if (uri.startsWith("/api/v3/Datasets/badloc%2F1")) {
        ex.getResponseHeaders.add("Location", "ht!tp://:bad:")
        respond(ex, 302, "")
      } else respond(ex, 404, "")
    }
    try {
      val cfg = ScicatMetadata.Config(base(server), "sekrit")
      // same host: followed, token forwarded
      assert(ScicatMetadata.metadataPerRun(cfg, "same/1") ===
        Map("from" -> "same"))
      assert(sameAuth.get === "Bearer sekrit")
      // cross host: followed, token STRIPPED
      assert(ScicatMetadata.metadataPerRun(cfg, "cross/1") ===
        Map("from" -> "cross"))
      assert(crossAuth.get === null,
        s"token leaked across hosts: ${crossAuth.get}")
      // redirect loop: hop budget exhausts → warn + empty, no hang
      assert(ScicatMetadata.metadataPerRun(cfg, "loop/1") === Map.empty)
      // a 302 with no Location, and one with a garbage Location, both
      // degrade to warn+empty instead of throwing out of the load
      assert(ScicatMetadata.metadataPerRun(cfg, "noloc/1") === Map.empty)
      assert(ScicatMetadata.metadataPerRun(cfg, "badloc/1") === Map.empty)
    } finally { server.stop(0); crossServer.stop(0) }
  }

  test("redirect auth rule: requests' should_strip_auth — host compare" +
      " caseless, scheme downgrade and port change strip, http→https" +
      " default-port upgrade keeps") {
    def u(s: String) = new java.net.URL(s)
    val f = (a: String, b: String) => ScicatMetadata.shouldForwardAuth(u(a), u(b))
    // same host, caseless (RFC 3986 §3.2.2)
    assert(f("http://cat.desy.de/a", "http://CAT.DESY.DE/b"))
    assert(f("https://LOCALHOST/a", "https://localhost/b"))
    // explicit default port equals implicit
    assert(f("http://cat/a", "http://cat:80/b"))
    assert(f("https://cat:443/a", "https://cat/b"))
    // the standard upgrade keeps; any other scheme change strips
    assert(f("http://cat/a", "https://cat/b"))
    assert(!f("https://cat/a", "http://cat/b")) // DOWNGRADE: never plaintext
    assert(!f("http://cat:8080/a", "https://cat/b")) // non-default from-port
    assert(!f("http://cat/a", "https://cat:8443/b")) // non-default to-port
    // port change on the same scheme strips
    assert(!f("http://cat:8080/a", "http://cat:9090/b"))
    // host change strips regardless of everything else
    assert(!f("https://cat/a", "https://evil/b"))
  }

  test("redirects: a mixed-case-host hop keeps the token (hosts are" +
      " case-insensitive); a same-host PORT change strips it") {
    assume(try {
      java.net.InetAddress.getByName("LoCalHost"); true
    } catch { case _: Exception => false })
    // port-change target: same 127.0.0.1 host, different port
    val portAuth = new java.util.concurrent.atomic.AtomicReference[String]("unset")
    val portServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    portServer.createContext("/", (ex: HttpExchange) => {
      try {
        portAuth.set(ex.getRequestHeaders.getFirst("Authorization"))
        respond(ex, 200, """{"from":"otherPort"}""")
      } finally ex.close()
    })
    portServer.start()
    val caseAuth = new java.util.concurrent.atomic.AtomicReference[String]("unset")
    val server = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    lazy val port = server.getAddress.getPort
    server.createContext("/", (ex: HttpExchange) => {
      try {
        val uri = ex.getRequestURI.toString
        if (uri.startsWith("/api/v3/Datasets/case%2F1")) {
          // same host in DIFFERENT case, same scheme+port
          ex.getResponseHeaders.add("Location",
            s"http://LoCalHost:$port/api/v3/moved/case")
          respond(ex, 302, "")
        } else if (uri == "/api/v3/moved/case") {
          caseAuth.set(ex.getRequestHeaders.getFirst("Authorization"))
          respond(ex, 200, """{"from":"case"}""")
        } else if (uri.startsWith("/api/v3/Datasets/port%2F1")) {
          ex.getResponseHeaders.add("Location",
            s"http://127.0.0.1:${portServer.getAddress.getPort}/catalogue")
          respond(ex, 302, "")
        } else respond(ex, 404, "")
      } finally ex.close()
    })
    server.start()
    try {
      val cfg = ScicatMetadata.Config(s"http://localhost:$port/api/v3", "sekrit")
      assert(ScicatMetadata.metadataPerRun(cfg, "case/1") ===
        Map("from" -> "case"))
      assert(caseAuth.get === "Bearer sekrit",
        "mixed-case same-host redirect must keep the token")
      // the port-change redirect source is 127.0.0.1, so route it there
      val cfg2 = ScicatMetadata.Config(
        s"http://127.0.0.1:$port/api/v3", "sekrit")
      assert(ScicatMetadata.metadataPerRun(cfg2, "port/1") ===
        Map("from" -> "otherPort"))
      assert(portAuth.get === null,
        s"token leaked across a port change: ${portAuth.get}")
    } finally { server.stop(0); portServer.stop(0) }
  }

  test("multi-run merge: later runs overwrite earlier keys (the" +
      " reference's flat dict.update semantics)") {
    val server = serve { ex =>
      ex.getRequestURI.toString match {
        case "/api/v3/Datasets/bt%2F1" =>
          respond(ex, 200, """{"a":1,"shared":"first"}""")
        case "/api/v3/Datasets/bt%2F2" =>
          respond(ex, 200, """{"b":2,"shared":"second"}""")
        case _ => respond(ex, 404, "")
      }
    }
    try {
      val cfg = ScicatMetadata.Config(base(server), "tok")
      val m = ScicatMetadata.getMetadata(cfg, "bt", Seq("1", "2"),
        existing = Map("kept" -> "yes"))
      assert(m === Map("kept" -> "yes", "a" -> 1L, "b" -> 2L,
        "shared" -> "second"))
    } finally server.stop(0)
  }

  test("readRuns wiring: collectMetadata=true fetches the run's SciCat" +
      " metadata beside the real FLASH frames; =false skips HTTP entirely") {
    val flashPath = "/root/reference/tests/data/loader/flash/" +
      "FLASH1_USER3_stream_2_run43878_file1_20230130T153807.1.h5"
    assumeFixture(flashPath)
    val dir = java.nio.file.Files.createTempDirectory("scicat_runs")
    java.nio.file.Files.copy(java.nio.file.Paths.get(flashPath),
      dir.resolve("FLASH1_USER3_stream_2_run43878_file1.h5"))
    val hits = new AtomicInteger(0)
    val server = serve { ex =>
      hits.incrementAndGet()
      if (ex.getRequestURI.toString == "/api/v3/Datasets/11013410%2F43878")
        respond(ex, 200, """{"sampleName":"WSe2"}""")
      else respond(ex, 404, "")
    }
    try {
      val cfg = ScicatMetadata.Config(base(server), "tok")
      val (events, _, meta) = InstrumentH5Loader.readRuns(
        spark, dir.toString, Seq("43878"),
        collectMetadata = true, scicat = Some(cfg), beamtimeId = "11013410",
        metadata = Map("preexisting" -> 7))
      assert(events.count() > 0)
      assert(meta === Map("preexisting" -> 7, "sampleName" -> "WSe2"))
      assert(hits.get === 1)
      // flag off: metadata passes through untouched, zero HTTP traffic
      val (_, _, meta2) = InstrumentH5Loader.readRuns(
        spark, dir.toString, Seq("43878"),
        scicat = Some(cfg), beamtimeId = "11013410",
        metadata = Map("only" -> 1))
      assert(meta2 === Map("only" -> 1))
      assert(hits.get === 1)
      // flag on without a config refuses, like the reference's
      // MetadataRetriever constructor
      intercept[IllegalArgumentException](InstrumentH5Loader.readRuns(
        spark, dir.toString, Seq("43878"),
        collectMetadata = true, beamtimeId = "11013410"))
    } finally server.stop(0)
  }
}
