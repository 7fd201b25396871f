package graft

import graft.nbql.NbqlExecutor
import graft.server.{Auth, Authenticator, GraftHttpServer}
import graft.tsdb.TsdbEngine
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

/** The serving layer over a REAL socket — the analog of the reference's
  * `server/e2e_test.go` + `server/app_server_tcp_test.go`: HTTP POST
  * /api/nbql, buffered + NDJSON streaming responses, NextCursor paging,
  * user-file auth accept/reject, reader/writer role enforcement. */
class ServerSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  def withServer(auth: Option[Authenticator] = None)(
      f: (NbqlExecutor, Int) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_srv").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    val ex = new NbqlExecutor(eng)
    ex.nowNs = Some(10_000_000_000L)
    val srv = new GraftHttpServer(ex, port = 0, authenticator = auth)
    srv.start()
    try f(ex, srv.boundPort)
    finally {
      srv.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  def post(port: Int, nbql: String, stream: Boolean = false,
      basic: Option[(String, String)] = None): HttpResponse[String] = {
    val suffix = if (stream) "?stream=1" else ""
    val body = JsonMethods.compact(JsonMethods.render(JObject("query" -> JString(nbql))))
    var b = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/api/nbql$suffix"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    basic.foreach { case (u, p) =>
      b = b.header("Authorization", "Basic " + Base64.getEncoder
        .encodeToString(s"$u:$p".getBytes(UTF_8)))
    }
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  def json(r: HttpResponse[String]): JValue = JsonMethods.parse(r.body)

  test("GET /query serves the HTML console; POST to it is rejected") {
    withServer() { (_, port) =>
      val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/query")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
      assert(r.body().contains("/api/nbql")) // the console posts to the API
      val bad = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/query"))
        .POST(HttpRequest.BodyPublishers.ofString("x")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 405)
    }
  }

  test("GET /monitor + /memstats serve live pages; /metrics carries real numbers") {
    withServer() { (ex, port) =>
      def get(path: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      // drive the engine so the numbers are live, not zeros: two versions
      // of one point → a compaction with real bytes, then a cached query
      assert(post(port, """PUSH m TAGGED (h="a") SET (v=1.0) AT 100""").statusCode() == 200)
      assert(post(port, """PUSH m TAGGED (h="a") SET (v=2.0) AT 100""").statusCode() == 200)
      assert(ex.engine.compact().isRight)
      ex.engine.serve(graft.tsdb.PointReq(
        graft.tsdb.QueryParams("m", startNs = 0L, endNs = Some(1000L))))
      ex.engine.serve(graft.tsdb.PointReq(
        graft.tsdb.QueryParams("m", startNs = 0L, endNs = Some(1000L))))

      val m = get("/metrics")
      assert(m.statusCode() == 200)
      val j = json(m)
      assert((j \ "engine" \ "compaction_events") == JInt(1))
      val JInt(bytesRead) = (j \ "engine" \ "compaction_bytes_read"): @unchecked
      assert(bytesRead.toLong > 0, "compaction must account real bytes")
      val JDouble(waf) = (j \ "engine" \ "compaction_waf"): @unchecked
      assert(waf > 0.0)
      assert((j \ "engine" \ "query_cache_hits") == JInt(1)) // second query hit
      val JInt(logManifests) = (j \ "engine" \ "log_manifests"): @unchecked
      assert(logManifests.toLong > 0, "log health must report live manifests")
      assert((j \ "engine" \ "write_stalls") == JInt(0))
      // maintenance decisions: the first serve built the view in full
      assert((j \ "engine" \ "serving_build_full") == JInt(1))
      TsdbEngine.MaintenanceKeys.foreach(k =>
        assert((j \ "engine" \ k).isInstanceOf[JInt], s"/metrics lacks $k"))
      val JInt(heapUsed) = (j \ "memstats" \ "heap_used"): @unchecked
      assert(heapUsed.toLong > 0)

      // both pages serve and poll the metrics endpoint
      Seq("/monitor", "/memstats").foreach { p =>
        val r = get(p)
        assert(r.statusCode() == 200, p)
        assert(r.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
        assert(r.body().contains("/metrics"), s"$p must poll /metrics")
      }
    }
  }

  test("POST /api/nbql: push acks, buffered query returns typed rows") {
    withServer() { (_, port) =>
      val ack = post(port,
        """PUSHS cpu TAGGED (h="a") SET (v=1.5) AT 1000, cpu TAGGED (h="a") SET (v=2.5) AT 2000""")
      assert(ack.statusCode() == 200)
      assert((json(ack) \ "message") == JString("OK 2"))

      val q = post(port, "QUERY cpu FROM 0 TO 5000")
      assert(q.statusCode() == 200)
      val j = json(q)
      assert((j \ "status") == JString("ok"))
      assert((j \ "row_count") == JInt(2))
      val results = (j \ "results").asInstanceOf[JArray].arr
      assert(results.map(r => r \ "timestamp") == List(JInt(1000), JInt(2000)))
      assert((results.head \ "fields" \ "v" \ "d") == JDouble(1.5))
      assert((results.head \ "tags" \ "h") == JString("a"))
      // no LIMIT → no cursor
      assert((j \ "next_cursor") == JNothing)
    }
  }

  test("POST /api/nbql: GROUP BY TAGS rides the protocol end to end") {
    withServer() { (_, port) =>
      assert(post(port,
        """PUSHS req TAGGED (dc="east", host="h1") SET (value=1.0) AT 1500,
           req TAGGED (dc="east", host="h2") SET (value=3.0) AT 1800,
           req TAGGED (dc="west", host="h3") SET (value=10.0) AT 1600""")
        .statusCode() == 200)
      val q = post(port,
        """QUERY req FROM 1000 TO 1999 AGGREGATE BY 1us (sum(value), count(*))
           GROUP BY TAGS (dc)""")
      assert(q.statusCode() == 200)
      val j = json(q)
      assert((j \ "status") == JString("ok"))
      assert((j \ "row_count") == JInt(2))
      val rows = (j \ "results").asInstanceOf[JArray].arr
        .map(r => (r \ "tag_dc", r \ "sum_value", r \ "count_star")).toSet
      assert(rows == Set((JString("east"), JDouble(4.0), JInt(2)),
        (JString("west"), JDouble(10.0), JInt(1))))
      // invalid combination surfaces as an executor error (500 per the
      // server's contract: 400 is parse-level), not a wrong result
      val bad = post(port, "QUERY req GROUP BY TAGS (dc)")
      assert(bad.statusCode() == 500)
      assert(bad.body().contains("GROUP BY TAGS requires AGGREGATE"))
    }
  }

  test("errors: bad JSON 400, parse error 400, wrong method 405") {
    withServer() { (_, port) =>
      val bad = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${port}/api/nbql"))
        .POST(HttpRequest.BodyPublishers.ofString("not json"))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 400)

      assert(post(port, "FETCH nope").statusCode() == 400)

      val get = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${port}/api/nbql")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 405)
    }
  }

  test("streaming: NDJSON rows + done trailer, cursor pages the remainder") {
    withServer() { (_, port) =>
      for (i <- 1 to 7)
        assert(post(port, s"""PUSH m TAGGED (k="x") SET (v=$i.0) AT ${i * 10}""")
          .statusCode() == 200)

      val r1 = post(port, "QUERY m FROM 0 TO 1000 LIMIT 4", stream = true)
      assert(r1.statusCode() == 200)
      assert(r1.headers().firstValue("Content-Type").orElse("")
        .contains("application/x-ndjson"))
      val lines1 = r1.body.trim.split("\n").toSeq.map(JsonMethods.parse(_))
      assert(lines1.size == 5, s"4 rows + trailer: ${r1.body}")
      assert(lines1.take(4).map(_ \ "timestamp") ==
        Seq(JInt(10), JInt(20), JInt(30), JInt(40)))
      val trailer1 = lines1.last
      assert((trailer1 \ "done") == JBool(true))
      assert((trailer1 \ "row_count") == JInt(4))
      val cursor = (trailer1 \ "next_cursor").asInstanceOf[JString].s

      // second page via the returned cursor drains the rest; no cursor after
      val r2 = post(port, s"QUERY m FROM 0 TO 1000 LIMIT 4 AFTER $cursor", stream = true)
      val lines2 = r2.body.trim.split("\n").toSeq.map(JsonMethods.parse(_))
      assert(lines2.dropRight(1).map(_ \ "timestamp") ==
        Seq(JInt(50), JInt(60), JInt(70)))
      assert((lines2.last \ "next_cursor") == JNothing)
    }
  }

  test("buffered path is budget-bounded: page + cursor, never a full collect") {
    withServer() { (ex, port) =>
      for (i <- 1 to 7)
        assert(post(port, s"""PUSH m TAGGED (k="x") SET (v=$i.0) AT ${i * 10}""")
          .statusCode() == 200)
      ex.engine.servingRowBudget = 3
      // un-LIMITed over-budget query on the BUFFERED path: the driver
      // materializes only the budget-sized page, and the response carries
      // a resume cursor + the truncation flag
      val r1 = post(port, "QUERY m FROM 0 TO 1000")
      assert(r1.statusCode() == 200)
      val j1 = json(r1)
      assert((j1 \ "row_count") == JInt(3), r1.body)
      assert((j1 \ "truncated") == JBool(true))
      val results1 = (j1 \ "results").asInstanceOf[JArray].arr
      assert(results1.map(_ \ "timestamp") == List(JInt(10), JInt(20), JInt(30)))
      val cursor = (j1 \ "next_cursor").asInstanceOf[JString].s
      // AFTER resumes where the budget cut; the final page is under
      // budget → no cursor, no truncation flag
      val r2 = post(port, s"QUERY m FROM 0 TO 1000 AFTER $cursor")
      val j2 = json(r2)
      assert((j2 \ "results").asInstanceOf[JArray].arr.map(_ \ "timestamp") ==
        List(JInt(40), JInt(50), JInt(60)))
      assert((j2 \ "truncated") == JBool(true))
      val cursor2 = (j2 \ "next_cursor").asInstanceOf[JString].s
      val j3 = json(post(port, s"QUERY m FROM 0 TO 1000 AFTER $cursor2"))
      assert((j3 \ "results").asInstanceOf[JArray].arr.map(_ \ "timestamp") ==
        List(JInt(70)))
      assert((j3 \ "truncated") == JNothing)
      assert((j3 \ "next_cursor") == JNothing)
      // a cursor-less shape (GROUP BY TAGS) still bounds the driver:
      // truncated flag, no cursor — the client re-issues with stream=1
      ex.engine.servingRowBudget = 1
      for (i <- 1 to 3)
        assert(post(port, s"""PUSH m2 TAGGED (k="k$i") SET (v=1.0) AT 100""")
          .statusCode() == 200)
      val gbt = "QUERY m2 FROM 0 TO 1000 AGGREGATE (sum(v)) GROUP BY TAGS (k)"
      val ja = json(post(port, gbt))
      assert((ja \ "row_count") == JInt(1), ja)
      assert((ja \ "truncated") == JBool(true))
      assert((ja \ "next_cursor") == JNothing)
      // the streamed path delivers the same result in full
      val rs = post(port, gbt, stream = true)
      val lines = rs.body.trim.split("\n").toSeq.map(JsonMethods.parse(_))
      assert((lines.last \ "row_count") == JInt(3))
      ex.engine.servingRowBudget = 2000000L
    }
  }

  test("auth: 401 without/with bad credentials, roles gate writes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_users").toString
    val userFile = s"$dir/users.db"
    Auth.writeUserFile(userFile, Seq(
      Auth.UserRecord("admin", Auth.hashPassword("s3cret", Auth.HashSha256), Auth.RoleWriter),
      Auth.UserRecord("viewer", Auth.hashPassword("viewpass", Auth.HashSha256), Auth.RoleReader)), Auth.HashSha256)
    // file round-trips through the reference's binary layout
    val (users, hashType) = Auth.readUserFile(userFile)
    assert(users.keySet == Set("admin", "viewer") && hashType == Auth.HashSha256)

    withServer(Some(Authenticator.fromFile(userFile))) { (_, port) =>
      assert(post(port, "SHOW METRICS").statusCode() == 401)
      assert(post(port, "SHOW METRICS", basic = Some("admin" -> "wrong"))
        .statusCode() == 401)
      assert(post(port, "SHOW METRICS", basic = Some("ghost" -> "s3cret"))
        .statusCode() == 401)

      // writer: can write and read
      assert(post(port, """PUSH cpu SET (v=1.0) AT 5""",
        basic = Some("admin" -> "s3cret")).statusCode() == 200)
      assert(post(port, "QUERY cpu FROM 0 TO 10",
        basic = Some("admin" -> "s3cret")).statusCode() == 200)

      // reader: reads ok, writes 403
      assert(post(port, "QUERY cpu FROM 0 TO 10",
        basic = Some("viewer" -> "viewpass")).statusCode() == 200)
      assert(post(port, """PUSH cpu SET (v=2.0) AT 6""",
        basic = Some("viewer" -> "viewpass")).statusCode() == 403)
      assert(post(port, """REMOVE SERIES cpu""",
        basic = Some("viewer" -> "viewpass")).statusCode() == 403)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  // ---- framed TCP protocol (byte-compatible with the reference) ---------

  import graft.server.{GraftTcpServer, Wire}
  import graft.model.FieldValue
  import java.io.DataInputStream

  def withTcp(auth: Option[Authenticator] = None)(
      f: (java.net.Socket, DataInputStream, java.io.OutputStream) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tcp").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    val ex = new NbqlExecutor(eng)
    ex.nowNs = Some(10_000_000_000L)
    val srv = new GraftTcpServer(ex, port = 0, authenticator = auth)
    srv.start()
    val sock = new java.net.Socket("127.0.0.1", srv.boundPort)
    try f(sock, new DataInputStream(sock.getInputStream), sock.getOutputStream)
    finally {
      try sock.close() catch { case _: Exception => () }
      srv.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("TCP: binary PUSH/PUSHS fast path acks; QUERY streams framed points") {
    withTcp() { (_, in, out) =>
      // PUSH one point (binary fast path — no text parsing)
      Wire.writeFrame(out, Wire.CmdPush, Wire.encodePush(
        "cpu", Map("h" -> "a"), 1000L,
        Map("v" -> FieldValue.ofDouble(1.5), "n" -> FieldValue.ofLong(7))))
      val ack1 = Wire.readFrame(in)
      assert(ack1.cmd == Wire.CmdManipulate)
      val a1 = new Wire.Reader(ack1.payload)
      assert(a1.readByte() == Wire.StatusOk && a1.readLong() == 1L)

      // PUSHS two points as ONE batch frame
      val items = Wire.withDOS { o =>
        o.writeInt(2)
        Seq(2000L, 3000L).foreach { ts =>
          o.write(Wire.encodePush("cpu", Map("h" -> "a"), ts,
            Map("v" -> FieldValue.ofDouble(ts / 1000.0))))
        }
      }
      Wire.writeFrame(out, Wire.CmdPushs, items)
      val ack2 = new Wire.Reader(Wire.readFrame(in).payload)
      assert(ack2.readByte() == Wire.StatusOk && ack2.readLong() == 2L)

      // QUERY streams one frame per row + end trailer with total
      Wire.writeFrame(out, Wire.CmdQuery,
        Wire.withDOS(o => Wire.writeString(o, "QUERY cpu FROM 0 TO 5000")))
      val rows = Iterator.continually(Wire.readFrame(in))
        .takeWhile(_.cmd == Wire.CmdQueryResultPart).toList
      val (p1, _) = Wire.decodeQueryResultPart(rows.head.payload)
      assert(rows.size == 3)
      assert(p1.metric == "cpu" && p1.tags == Map("h" -> "a") &&
        p1.timestamp == 1000L && !p1.isAggregated)
      assert(p1.fields("v") == FieldValue.ofDouble(1.5))
      assert(p1.fields("n") == FieldValue.ofLong(7)) // int64 survives as int
      // the takeWhile consumed the QueryEnd frame check: re-issue and drain
      Wire.writeFrame(out, Wire.CmdQuery,
        Wire.withDOS(o => Wire.writeString(o, "QUERY cpu FROM 0 TO 5000 LIMIT 2")))
      var frame = Wire.readFrame(in)
      var n = 0L
      var cursor = ""
      while (frame.cmd == Wire.CmdQueryResultPart) {
        val (items, c) = Wire.decodeQueryResultParts(frame.payload)
        if (c.nonEmpty) cursor = c
        n += items.size
        frame = Wire.readFrame(in)
      }
      assert(frame.cmd == Wire.CmdQueryEnd)
      val end = new Wire.Reader(frame.payload)
      assert(end.readByte() == Wire.StatusDataEnd && end.readLong() == 2L)
      assert(cursor.nonEmpty, "LIMITed page must carry a next cursor")
    }
  }

  test("TCP: aggregated query rides the IsAggregated flag; errors frame 0xEE") {
    withTcp() { (_, in, out) =>
      Seq(500L, 1500L, 2500L).foreach { ts =>
        Wire.writeFrame(out, Wire.CmdPush, Wire.encodePush(
          "m", Map.empty, ts, Map("value" -> FieldValue.ofDouble(ts.toDouble))))
        assert(Wire.readFrame(in).cmd == Wire.CmdManipulate)
      }
      Wire.writeFrame(out, Wire.CmdQuery, Wire.withDOS(o =>
        Wire.writeString(o, "QUERY m FROM 0 TO 3000 AGGREGATE BY 1us (sum(value))")))
      val parts = Iterator.continually(Wire.readFrame(in))
        .takeWhile(_.cmd == Wire.CmdQueryResultPart).toList
      assert(parts.size == 3)
      val (w1, _) = Wire.decodeQueryResultPart(parts.head.payload)
      assert(w1.isAggregated && w1.windowStart == 0L &&
        w1.aggregated.toMap.get("sum_value").contains(500.0))

      // parse error → 0xEE frame with code + message
      Wire.writeFrame(out, Wire.CmdQuery,
        Wire.withDOS(o => Wire.writeString(o, "FETCH nope")))
      val err = Wire.readFrame(in)
      assert(err.cmd == Wire.CmdError)
      val e = new Wire.Reader(err.payload)
      assert(e.readShort() == 400 && e.readString().nonEmpty)
    }
  }

  test("TCP auth handshake: reject bad creds, reader role blocks writes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tcpauth").toString
    val userFile = s"$dir/users.db"
    Auth.writeUserFile(userFile, Seq(
      Auth.UserRecord("viewer", Auth.hashPassword("pw", Auth.HashSha256), Auth.RoleReader)), Auth.HashSha256)
    val auth = Some(Authenticator.fromFile(userFile))

    // bad credentials: handshake answers error and the server closes
    withTcp(auth) { (_, in, out) =>
      out.write(Wire.encodeAuthRequest("viewer", "wrong")); out.flush()
      val ver = in.readByte(); val op = in.readByte()
      val plen = in.readUnsignedShort()
      val payload = new Array[Byte](plen); in.readFully(payload)
      assert(ver == 1 && op == Wire.AuthResponseOp)
      assert(new Wire.Reader(payload).readByte() == Wire.AuthError)
    }

    // good credentials: reads flow, writes are denied by role
    withTcp(auth) { (_, in, out) =>
      out.write(Wire.encodeAuthRequest("viewer", "pw")); out.flush()
      in.readByte(); in.readByte()
      val plen = in.readUnsignedShort()
      val payload = new Array[Byte](plen); in.readFully(payload)
      assert(new Wire.Reader(payload).readByte() == Wire.AuthOk)

      Wire.writeFrame(out, Wire.CmdPush, Wire.encodePush(
        "m", Map.empty, 1L, Map("v" -> FieldValue.ofDouble(1.0))))
      assert(Wire.readFrame(in).cmd == Wire.CmdError) // writer role required

      Wire.writeFrame(out, Wire.CmdQuery,
        Wire.withDOS(o => Wire.writeString(o, "SHOW METRICS")))
      var f = Wire.readFrame(in)
      while (f.cmd == Wire.CmdQueryResultPart) f = Wire.readFrame(in)
      assert(f.cmd == Wire.CmdQueryEnd) // read allowed
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  // ---- client library e2e (graft.client.NbqlClient over the live server) --

  import graft.client.{NbqlApiError, NbqlClient}

  def withClientServer(auth: Option[Authenticator] = None)(
      f: Int => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    val ex = new NbqlExecutor(eng)
    ex.nowNs = Some(10_000_000_000L)
    val srv = new GraftTcpServer(ex, port = 0, authenticator = auth)
    srv.start()
    try f(srv.boundPort)
    finally {
      srv.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("client: push/pushBulk, parameterized query, typed rows, error surfacing") {
    withClientServer() { port =>
      val c = NbqlClient.connect("127.0.0.1", port)
      try {
        assert(c.push("cpu", Map("v" -> FieldValue.ofDouble(1.5)), 1000L,
          Map("host" -> "a")) == 1L)
        assert(c.pushBulk(Seq(
          ("cpu", Map("host" -> "a"), 2000L, Map("v" -> FieldValue.ofDouble(2.5))),
          ("cpu", Map("host" -> "b"), 3000L, Map("v" -> FieldValue.ofLong(7))))) == 2L)

        // `?` substitution quotes the tag value — only host=a rows return
        val r = c.query("QUERY cpu TAGGED (host=?) FROM 0 TO 5000", "a")
        assert(r.totalRows == 2 && r.rows.size == 2)
        assert(r.rows.map(_.timestamp) == Seq(1000L, 2000L))
        assert(r.rows.forall(p => p.metric == "cpu" && p.tags == Map("host" -> "a")))
        assert(r.rows.head.fields("v") == FieldValue.ofDouble(1.5))
        assert(!r.hasMore)

        // a value containing a quote round-trips through the doubling
        // escape instead of breaking out of the string
        assert(c.push("cpu", Map("v" -> FieldValue.ofDouble(9.0)), 4000L,
          Map("host" -> "a\"b")) == 1L)
        val esc = c.query("QUERY cpu TAGGED (host=?) FROM 0 TO 5000", "a\"b")
        assert(esc.rows.map(_.timestamp) == Seq(4000L))

        // numeric params substitute bare
        val n = c.query("QUERY cpu FROM ? TO ?", 0, 5000)
        assert(n.totalRows == 4)

        // placeholder arity is checked client-side
        intercept[IllegalArgumentException] {
          c.query("QUERY cpu TAGGED (host=?) FROM 0 TO 1", "a", "extra"); ()
        }
        // server errors surface as NbqlApiError with the wire code
        val err = intercept[NbqlApiError] { c.query("FETCH nope"); () }
        assert(err.code == 400)
      } finally c.close()
    }
  }

  test("client: 10 concurrent readers + concurrent writers get correct results") {
    // the Bench c10 protocol's correctness side: 10 reader threads (own
    // client each) hammer a static metric while 10 writer threads commit
    // to ANOTHER metric — every read must return exactly the static
    // rows (no torn results, no cross-talk from concurrent commits)
    withClientServer() { port =>
      val seed = NbqlClient.connect("127.0.0.1", port)
      try {
        seed.pushBulk((0 until 200).map { i =>
          ("static", Map("u" -> s"${i % 10}"), 1000L + i * 10L,
            Map("v" -> FieldValue.ofDouble(i.toDouble)))
        })
      } finally seed.close()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val readers = (0 until 10).map { tid =>
        new Thread(() => {
          val c = NbqlClient.connect("127.0.0.1", port)
          try {
            var j = 0
            while (j < 20) {
              val u = (tid + j) % 10
              val r = c.query(s"""QUERY static TAGGED (u="$u") FROM 0 TO 99999""")
              if (r.rows.size != 20)
                errs.add(s"reader $tid/$j: u=$u got ${r.rows.size} rows")
              else if (!r.rows.forall(p => p.tags == Map("u" -> s"$u")))
                errs.add(s"reader $tid/$j: cross-talk rows for u=$u")
              j += 1
            }
          } catch { case e: Throwable => errs.add(s"reader $tid: $e") }
          finally c.close()
        })
      }
      val writers = (0 until 10).map { tid =>
        new Thread(() => {
          val c = NbqlClient.connect("127.0.0.1", port)
          try {
            var b = 0
            while (b < 3) {
              c.pushBulk((0 until 50).map { j =>
                ("churn", Map("w" -> s"$tid"), 500000L + (tid * 1000 + b * 50 + j) * 10L,
                  Map("v" -> FieldValue.ofDouble(j.toDouble)))
              })
              b += 1
            }
          } catch { case e: Throwable => errs.add(s"writer $tid: $e") }
          finally c.close()
        })
      }
      (readers ++ writers).foreach(_.start())
      (readers ++ writers).foreach(_.join())
      assert(errs.isEmpty, errs.toArray.mkString("; "))
      // every concurrent commit landed exactly once
      val check = NbqlClient.connect("127.0.0.1", port)
      try {
        val r = check.query("QUERY churn FROM 0 TO 99999999")
        assert(r.rows.size == 10 * 3 * 50, s"churn rows: ${r.rows.size}")
      } finally check.close()
    }
  }

  test("client: AFTER-cursor pagination walks every page in order") {
    withClientServer() { port =>
      val c = NbqlClient.connect("127.0.0.1", port)
      try {
        assert(c.pushBulk((1 to 7).map(i =>
          ("m", Map.empty[String, String], i * 100L,
            Map("v" -> FieldValue.ofDouble(i.toDouble))))) == 7L)

        // manual page walk: LIMIT 3 → cursor → next page resumes after it
        val p1 = c.query("QUERY m FROM 0 TO 1000 LIMIT 3")
        assert(p1.rows.map(_.timestamp) == Seq(100L, 200L, 300L) && p1.hasMore)
        val p2 = c.queryAfter("QUERY m FROM 0 TO 1000 LIMIT 3", p1.nextCursor)
        assert(p2.rows.map(_.timestamp) == Seq(400L, 500L, 600L) && p2.hasMore)
        val p3 = c.queryAfter("QUERY m FROM 0 TO 1000 LIMIT 3", p2.nextCursor)
        assert(p3.rows.map(_.timestamp) == Seq(700L))
        assert(!p3.hasMore, "a short page is the last page")

        // and the convenience walker reassembles the full result
        val all = c.queryAllPages("QUERY m FROM 0 TO 1000 LIMIT 3")
        assert(all.map(_.timestamp) == (1 to 7).map(_ * 100L))
      } finally c.close()
    }
  }

  test("client: a 6,000-row TCP answer arrives whole, and the connection serves on") {
    // frames are written unflushed and the server flushes once per
    // message: the tail of a large answer must still leave, and the
    // next request on the same connection must still be answered
    withClientServer() { port =>
      val c = NbqlClient.connect("127.0.0.1", port)
      try {
        assert(c.pushBulk((0 until 6000).map(i =>
          ("big", Map("h" -> s"h${i % 2}"), 1000L + i / 2,
            Map("v" -> FieldValue.ofDouble(i.toDouble))))) == 6000L)
        val all = c.query("QUERY big FROM 0 TO 99999")
        assert(all.totalRows == 6000L && all.rows.size == 6000)
        assert(all.rows.map(_.timestamp) == (0 until 6000).map(1000L + _ / 2))
        val one = c.query("QUERY big TAGGED (h=\"h1\") FROM 0 TO 99999")
        assert(one.totalRows == 3000L && one.rows.forall(_.tags == Map("h" -> "h1")))
        assert(c.query("QUERY big FROM 0 TO 99999 LIMIT 3").rows.size == 3)
      } finally c.close()
    }
  }

  test("client: driver-rollup tier answers stream over TCP, value-identical to in process") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tcp_tier").toString
    val ex = new NbqlExecutor(new TsdbEngine(spark, s"$dir/db"))
    val srv = new GraftTcpServer(ex, port = 0)
    srv.start()
    val c = NbqlClient.connect("127.0.0.1", srv.boundPort)
    try {
      val Min = 60L * 1000000000L
      assert(c.pushBulk(for (i <- 0 until 120; (h, dc) <- Seq("a" -> "east", "b" -> "west"))
        yield ("cpu", Map("host" -> h, "dc" -> dc), i * Min,
          Map("value" -> FieldValue.ofDouble(i * 2.0 + (if (h == "a") 0 else 1))))) == 240L)
      assert(ex.execute("CREATE ROLLUP cpu BY 1m (value)").isRight)
      val range = s"FROM 0 TO ${120 * Min - 1}"
      val keys = Set("metric", "tags", "series_key", "window_start",
        "window_end", "timestamp")
      // (metric, window, numeric values) of each row in process, read by
      // position: the driver tiers' rows carry no schema
      def inProcess(q: String): (String, Seq[(String, Long, Map[String, Double])]) =
        ex.execute(q) match {
          case Right(r: ex.Rows @unchecked) =>
            val names = r.schema.fieldNames
            val iW = names.indexOf("window_start")
            val nums = r.schema.fields.indices.filter(i => !keys(names(i)) &&
              r.schema(i).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
            (r.tier, r.rowIterator().map { row =>
              (row.getString(names.indexOf("metric")), if (iW < 0) 0L else row.getLong(iW),
                nums.filterNot(row.isNullAt).map(i =>
                  names(i) -> row.get(i).asInstanceOf[Number].doubleValue).toMap)
            }.toSeq)
          case other => fail(s"$other")
        }
      Seq(
        s"QUERY cpu $range AGGREGATE BY 10m (sum(value), count(*))" -> "local-rollup",
        s"QUERY cpu $range ANALYZE DELTA(value)" -> "local-rollup-delta",
        s"QUERY cpu $range ANALYZE RATE(value) BY 10m" -> "local-rollup-rate-by",
        s"QUERY cpu $range AGGREGATE BY 10m (sum(value)) GROUP BY TAGS (dc)" ->
          "local-rollup-tags"
      ).foreach { case (q, tier) =>
        val (servedBy, want) = inProcess(q)
        assert(servedBy == tier, s"$q: $servedBy")
        // windowed rows ride the aggregate slots, one-row-per-series
        // analytics ride as field values
        val got = c.query(q).rows.map { p =>
          if (p.isAggregated) (p.metric, p.windowStart, p.aggregated.toMap)
          else (p.fields("metric").s.get, 0L, p.fields.collect {
            case (k, v) if !keys(k) && (v.d.isDefined || v.l.isDefined) =>
              k -> v.d.getOrElse(v.l.get.toDouble)
          })
        }
        assert(want.nonEmpty && got == want, q)
      }
      // a LIMIT-full page from that tier carries its resume cursor
      val page = c.query(s"QUERY cpu $range AGGREGATE BY 10m (sum(value)) LIMIT 3")
      assert(page.rows.size == 3 && page.hasMore)
    } finally {
      c.close()
      srv.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("interop: independent python wire client pushes and queries the live server") {
    // the script implements the frame/codec layer from scratch (struct +
    // its own CRC-32C) — agreement proves the wire format, not the JVM code
    assume(Seq("/usr/bin/python3", "/usr/local/bin/python3")
      .exists(p => new java.io.File(p).exists()), "python3 not installed")
    withClientServer() { port =>
      def runPy(args: String*): (Int, String) = {
        val pb = new ProcessBuilder(
          (Seq("python3", "scripts/nbql_client.py", "127.0.0.1",
            port.toString) ++ args): _*)
        pb.redirectErrorStream(true)
        val p = pb.start()
        val out = new String(p.getInputStream.readAllBytes(), UTF_8)
        (p.waitFor(), out)
      }
      val (c1, o1) = runPy("push", "cpu", "1000", "v=1.5", "host=a")
      assert(c1 == 0 && o1.contains("\"rows_affected\": 1"), o1)
      val (c2, o2) = runPy("push", "cpu", "2000", "v=2.5", "host=b")
      assert(c2 == 0, o2)
      // parameterized query from python → typed rows + end trailer
      val (c3, o3) = runPy("query", "QUERY cpu TAGGED (host=?) FROM 0 TO 5000", "a")
      assert(c3 == 0, o3)
      val lines = o3.trim.split("\n")
      assert(lines.length == 2, o3)
      val row = JsonMethods.parse(lines(0))
      assert((row \ "metric") == JString("cpu"))
      assert((row \ "timestamp") == JInt(1000))
      assert((row \ "fields" \ "v") == JDouble(1.5))
      assert((JsonMethods.parse(lines(1)) \ "total") == JInt(1))
    }
  }

  test("interop: independent Node wire client pushes and queries the live server") {
    assume(Seq("/usr/bin/node", "/usr/local/bin/node")
      .exists(p => new java.io.File(p).exists()), "node not installed")
    withClientServer() { port =>
      def runJs(args: String*): (Int, String) = {
        val pb = new ProcessBuilder(
          (Seq("node", "scripts/nbql_client.js", "127.0.0.1",
            port.toString) ++ args): _*)
        pb.redirectErrorStream(true)
        val p = pb.start()
        val out = new String(p.getInputStream.readAllBytes(), UTF_8)
        (p.waitFor(), out)
      }
      // push from node (third independent CRC-32C + codec implementation)
      val (c1, o1) = runJs("push", "cpu", "1000", "v=1.5", "host=a")
      assert(c1 == 0 && o1.contains("\"rows_affected\":1"), o1)
      val (c2, o2) = runJs("push", "cpu", "2000", "v=2.5", "host=b")
      assert(c2 == 0, o2)
      // parameterized raw query
      val (c3, o3) = runJs("query", "QUERY cpu TAGGED (host=?) FROM 0 TO 5000", "a")
      assert(c3 == 0, o3)
      val lines = o3.trim.split("\n")
      assert(lines.length == 2, o3)
      val row = JsonMethods.parse(lines(0))
      assert((row \ "metric") == JString("cpu"))
      assert((row \ "timestamp") == JInt(1000))
      assert((row \ "fields" \ "v") == JDouble(1.5))
      assert((JsonMethods.parse(lines(1)) \ "total") == JInt(1))
      // aggregated query rides the IsAggregated flag end to end
      val (c4, o4) = runJs("query",
        "QUERY cpu FROM 0 TO 5000 AGGREGATE BY 5us (sum(v), count(*))")
      assert(c4 == 0, o4)
      val aggLines = o4.trim.split("\n")
      // one row per (series, window): sums 1.5 (host=a) and 2.5 (host=b)
      val sums = aggLines.init.map(l =>
        (JsonMethods.parse(l) \ "aggregated" \ "sum_v")).toSet
      assert(sums == Set(JDouble(1.5), JDouble(2.5)), o4)
      assert((JsonMethods.parse(aggLines.last) \ "total") == JInt(2), o4)
    }
  }

  test("client: TCP SUBSCRIBE streams live PUT and DELETE updates, filtered") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sub").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    val ex = new NbqlExecutor(eng)
    val srv = new GraftTcpServer(ex, port = 0)
    srv.start()
    val sub = NbqlClient.connect("127.0.0.1", srv.boundPort)
    try {
      val s = sub.subscribe("cpu*", Map("host" -> "a"))
      assert(s.sinceVersion == eng.version)
      // matching put arrives as a PUT update
      assert(eng.put(graft.model.DataPoint("cpu.usage", Map("host" -> "a"), 1000L,
        Map("v" -> FieldValue.ofDouble(1.5)))).isRight)
      // non-matching metric and tag must NOT be delivered
      assert(eng.put(graft.model.DataPoint("mem", Map("host" -> "a"), 1500L,
        Map("v" -> FieldValue.ofDouble(9.0)))).isRight)
      assert(eng.put(graft.model.DataPoint("cpu.usage", Map("host" -> "b"), 1600L,
        Map("v" -> FieldValue.ofDouble(9.0)))).isRight)
      // second matching put, then a matching series delete
      assert(eng.put(graft.model.DataPoint("cpu.idle", Map("host" -> "a"), 2000L,
        Map("v" -> FieldValue.ofDouble(2.5)))).isRight)
      assert(eng.deleteSeries("cpu.usage", Map("host" -> "a")).isRight)

      val u1 = s.next()
      assert(!u1.isDelete && u1.updateType == "PUT")
      assert(u1.item.metric == "cpu.usage" && u1.item.timestamp == 1000L)
      assert(u1.item.fields("v") == FieldValue.ofDouble(1.5))
      val u2 = s.next()
      assert(!u2.isDelete && u2.item.metric == "cpu.idle" && u2.item.timestamp == 2000L,
        s"filtered-out puts must be skipped, got ${u2.item.metric}@${u2.item.timestamp}")
      val u3 = s.next()
      assert(u3.isDelete && u3.updateType == "DELETE")
      assert(u3.item.metric == "cpu.usage")
      assert(u3.item.fields("delete_kind") == FieldValue.ofString("series"))
      s.close()
    } finally {
      try sub.close() catch { case _: Exception => () }
      srv.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("client: TCP SUBSCRIBE drains a single bulk commit in seq order (streamed fan-out)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_subbulk").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    val ex = new NbqlExecutor(eng)
    val srv = new GraftTcpServer(ex, port = 0)
    srv.subscriptionPollMs = 20L
    srv.start()
    val sub = NbqlClient.connect("127.0.0.1", srv.boundPort)
    try {
      val s = sub.subscribe("bulk.*", Map.empty)
      // ONE commit carrying 2500 matching rows over several partitions —
      // the push loop must stream it (toLocalIterator), not collect it
      val n = 2500
      val rows = (0 until n).map(i => TP("bulk.m", Map("host" -> s"h${i % 7}"),
        1000L + i, Map("v" -> FV.dv(i.toDouble)), 10000L + i))
      eng.putDF(rows.toDF().repartition(8))
      val got = (0 until n).map(_ => s.next())
      assert(got.forall(u => !u.isDelete && u.item.metric == "bulk.m"))
      val seqs = got.map(_.item.seq)
      assert(seqs == seqs.sorted, "bulk commit must arrive in seq order")
      assert(seqs.head == 10000L && seqs.last == 10000L + n - 1)
      s.close()
    } finally {
      try sub.close() catch { case _: Exception => () }
      srv.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("client: TCP SUBSCRIBE survives lagging past the truncation " +
      "horizon — best-effort live-tail, the connection stays up") {
    import spark.implicits._
    // a slow subscriber can fall behind checkpoint truncation: the
    // manifests of commits it has not pushed yet get deleted (their
    // state lives in the checkpoint). The push loop must SKIP to the
    // oldest still-available commit — the reference's non-blocking
    // publish likewise drops what a slow subscriber missed
    // (engine2/pubsub.go:105-126) — never die on "manifest is gone".
    val dir = java.nio.file.Files.createTempDirectory("graft_sublag").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    eng.checkpointInterval = 4
    eng.foldVacuumGraceMs = 0L   // truncation bites immediately
    eng.recentPutsMaxBytes = 1L  // ring evicts → every push reads manifests
    val ex = new NbqlExecutor(eng)
    val srv = new GraftTcpServer(ex, port = 0)
    srv.subscriptionPollMs = 20L
    srv.start()
    val sub = NbqlClient.connect("127.0.0.1", srv.boundPort)
    try {
      val s = sub.subscribe("lag.*", Map.empty)
      // bulk commit A: enough matching rows that the push loop BLOCKS on
      // the unread socket mid-stream — the subscriber now lags
      val n = 20000
      val rows = (0 until n).map(i => TP("lag.m", Map("host" -> s"h${i % 5}"),
        1000L + i, Map("v" -> FV.dv(i.toDouble)), 10000L + i))
      eng.putDF(rows.toDF().repartition(8))
      // 20 non-matching commits drive checkpoints + grace-0 truncation
      // past the blocked subscriber's position
      (0 until 20).foreach { i =>
        assert(eng.put(graft.model.DataPoint("other.m", Map("h" -> "a"),
          i * 1000L, Map("v" -> FieldValue.ofDouble(i.toDouble)))).isRight)
      }
      assert(eng.oldestAvailableCommitVersion.exists(_ > 2),
        "test setup: truncation must have passed the subscriber")
      // a matching put AFTER the truncation window
      assert(eng.put(graft.model.DataPoint("lag.m", Map("h" -> "z"), 777L,
        Map("v" -> FieldValue.ofDouble(7.0)))).isRight)
      // drain: all of A (still replayable — its data files are live),
      // then the post-truncation put. With the old behavior the loop
      // died at the first truncated manifest and this next() hangs.
      val gotA = (0 until n).map(_ => s.next())
      assert(gotA.forall(u => u.item.metric == "lag.m"))
      assert(gotA.map(_.item.seq) == gotA.map(_.item.seq).sorted)
      val c = s.next()
      assert(c.item.timestamp == 777L,
        s"the subscription must resume past the truncation gap, got $c")
      // and it is still LIVE for later commits
      assert(eng.put(graft.model.DataPoint("lag.m", Map("h" -> "z"), 888L,
        Map("v" -> FieldValue.ofDouble(8.0)))).isRight)
      assert(s.next().item.timestamp == 888L)
      s.close()
    } finally {
      try sub.close() catch { case _: Exception => () }
      srv.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("client: TCP SUBSCRIBE delivery is commit-signal-driven, not poll-bound") {
    val dir = java.nio.file.Files.createTempDirectory("graft_subsig").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    val ex = new NbqlExecutor(eng)
    val srv = new GraftTcpServer(ex, port = 0)
    // poll interval set far beyond the assertion window: a delivery can
    // only arrive in time if the PostManifestWrite signal wakes the loop
    srv.subscriptionPollMs = 120000L
    srv.start()
    val sub = NbqlClient.connect("127.0.0.1", srv.boundPort)
    try {
      val s = sub.subscribe("sig.*", Map.empty)
      val t0 = System.nanoTime()
      assert(eng.put(graft.model.DataPoint("sig.m", Map("h" -> "a"), 1000L,
        Map("v" -> FieldValue.ofDouble(1.0)))).isRight)
      val u = s.next() // blocks on the socket; poll alone would take 120 s
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(u.item.metric == "sig.m" && u.item.timestamp == 1000L)
      assert(elapsedMs < 30000.0,
        f"commit-signal push took $elapsedMs%.0f ms — poll-bound, not signal-driven")
      s.close()
    } finally {
      try sub.close() catch { case _: Exception => () }
      srv.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("client: auth handshake accepts good creds; role denial is an APIError") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cliauth").toString
    val userFile = s"$dir/users.db"
    Auth.writeUserFile(userFile, Seq(
      Auth.UserRecord("viewer", Auth.hashPassword("pw", Auth.HashSha256), Auth.RoleReader)), Auth.HashSha256)
    val auth = Some(Authenticator.fromFile(userFile))
    withClientServer(auth) { port =>
      intercept[NbqlApiError] {
        NbqlClient.connect("127.0.0.1", port, Some(("viewer", "wrong"))); ()
      }
      val c = NbqlClient.connect("127.0.0.1", port, Some(("viewer", "pw")))
      try {
        assert(c.query("SHOW METRICS").totalRows == 0L) // read allowed
        val denied = intercept[NbqlApiError] {
          c.push("m", Map("v" -> FieldValue.ofDouble(1.0)), 1L); ()
        }
        assert(denied.code == 403)
      } finally c.close()
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("subscription ring: driver-retained commits serve job-free, bounded, fallback-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_subring").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    def pt(m: String, ts: Long, v: Double) =
      graft.model.DataPoint(m, Map("host" -> "a"), ts,
        Map("v" -> FieldValue.ofDouble(v)))
    // a driver-originated batch is retained with its committed seqs
    assert(eng.putBatch(Seq(pt("cpu", 1L, 1.0), pt("cpu", 2L, 2.0))).isRight)
    val v1 = eng.version
    val kept = eng.commitChangesLocal(v1)
    assert(kept.exists(_.map(_._1.timestamp) == Seq(1L, 2L)))
    assert(kept.exists(_.map(_._2).distinct.size == 2), "seq-stamped")
    // oversized batches are NOT retained (no double-residency of bulk rows)
    eng.recentPutsMaxBatch = 1
    assert(eng.putBatch(Seq(pt("cpu", 3L, 3.0), pt("cpu", 4L, 4.0))).isRight)
    assert(eng.commitChangesLocal(eng.version).isEmpty,
      "over-budget batch must fall back to the parquet read")
    eng.recentPutsMaxBatch = 10000
    // the ring is commit-bounded: oldest versions evict
    eng.recentPutsMaxCommits = 3
    (10 until 16).foreach(i => assert(eng.putBatch(Seq(pt("cpu", i.toLong, i.toDouble))).isRight))
    assert(eng.commitChangesLocal(v1).isEmpty, "evicted version reads via parquet")
    assert(eng.commitChangesLocal(eng.version).isDefined)
    // end-to-end parity: the SAME points delivered through the ring and
    // through the forced parquet fallback produce identical updates
    val ex = new NbqlExecutor(eng)
    val srv = new GraftTcpServer(ex, port = 0)
    srv.subscriptionPollMs = 20L
    srv.start()
    val sub = NbqlClient.connect("127.0.0.1", srv.boundPort)
    try {
      val s = sub.subscribe("ring.*", Map.empty)
      assert(eng.putBatch(Seq(pt("ring.a", 100L, 1.5), pt("ring.b", 101L, 2.5))).isRight)
      assert(eng.commitChangesLocal(eng.version).isDefined) // ring-served
      eng.recentPutsMaxBatch = 0 // force the parquet path for the twin
      assert(eng.putBatch(Seq(pt("ring.a", 100L, 1.5), pt("ring.b", 101L, 2.5))).isRight)
      assert(eng.commitChangesLocal(eng.version).isEmpty) // fallback-served
      val viaRing = Seq(s.next(), s.next())
      val viaParquet = Seq(s.next(), s.next())
      def shape(u: sub.SubscriptionUpdate) =
        (u.isDelete, u.item.metric, u.item.tags, u.item.timestamp, u.item.fields)
      assert(viaRing.map(shape) == viaParquet.map(shape),
        "ring-served and parquet-served updates must be byte-identical in content")
      s.close()
    } finally {
      try sub.close() catch { case _: Exception => () }
      srv.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("client: after RESTORE, a TCP subscriber gets the reused version's " +
      "DELETE, never the pre-restore PUT") {
    val dir = java.nio.file.Files.createTempDirectory("graft_subrestore").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    def pt(ts: Long, v: Double) =
      graft.model.DataPoint("rs.m", Map("host" -> "a"), ts,
        Map("v" -> FieldValue.ofDouble(v)))
    assert(eng.putBatch(Seq(pt(1000L, 1.0))).isRight) // v1
    assert(eng.snapshot(s"$dir/snap").isRight)
    assert(eng.putBatch(Seq(pt(2000L, 2.0))).isRight) // v2, retained as rows
    assert(eng.restore(s"$dir/snap", overwrite = true).isRight)
    val srv = new GraftTcpServer(new NbqlExecutor(eng), port = 0)
    srv.subscriptionPollMs = 20L
    srv.start()
    val sub = NbqlClient.connect("127.0.0.1", srv.boundPort)
    try {
      val s = sub.subscribe("rs.*", Map.empty)
      assert(s.sinceVersion == 1L)
      // the reused version 2 is a delete; then a sentinel put at v3
      assert(eng.deletePoint("rs.m", Map("host" -> "a"), 1000L).isRight)
      assert(eng.version == 2L)
      assert(eng.putBatch(Seq(pt(4000L, 4.0))).isRight)
      val u1 = s.next()
      assert(u1.isDelete && u1.item.timestamp == 1000L,
        s"expected v2's DELETE, got ${u1.updateType} at ${u1.item.timestamp}")
      val u2 = s.next()
      assert(!u2.isDelete && u2.item.timestamp == 4000L,
        s"expected the v3 PUT, got ${u2.updateType} at ${u2.item.timestamp}")
      assert(eng.commitChangesLocal(2L).isEmpty,
        "the subscription ring answered for the restored log's version 2")
      s.close()
    } finally {
      try sub.close() catch { case _: Exception => () }
      srv.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("subscription ring: driver-side PUSHS reach a TCP subscriber with no Spark job, each once") {
    import graft.nbql.{PushStatement, PushsStatement}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("graft_subjobs").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    val ex = new NbqlExecutor(eng)
    val srv = new GraftTcpServer(ex, port = 0)
    srv.start()
    val sub = NbqlClient.connect("127.0.0.1", srv.boundPort)
    def push(host: String, ts: Long, v: Double) =
      PushStatement("ring.p", Map("host" -> host), Map("v" -> FieldValue.ofDouble(v)), Some(ts))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    try {
      val s = sub.subscribe("ring.p", Map("host" -> "w00*"))
      spark.sparkContext.addSparkListener(listener)
      // 60 inline commits, below the fold threshold: each is announced to
      // the push loop only once the subscription ring holds its rows
      (0 until 60).foreach { i =>
        assert(ex.run(PushsStatement(Seq(push("w001", 1000L + i, i.toDouble),
          push("x1", 1000L + i, -1.0)))).isRight)
      }
      val got = (0 until 60).map(_ => s.next())
      assert(got.map(_.item.fields("v")) == (0 until 60).map(i => FieldValue.ofDouble(i.toDouble)))
      // the next update is a later sentinel: nothing was delivered twice
      assert(ex.run(PushsStatement(Seq(push("w002", 99999L, 99.0)))).isRight)
      assert(s.next().item.timestamp == 99999L)
      Thread.sleep(500) // the listener bus delivers job events asynchronously
      assert(jobs.get == 0, s"${jobs.get} Spark jobs ran for ring-retained commits")
      s.close()
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      try sub.close() catch { case _: Exception => () }
      srv.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("TCP: stop() closes idle and subscribed connections at once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tcpstop").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    val srv = new GraftTcpServer(new NbqlExecutor(eng), port = 0)
    srv.start()
    val idle = new java.net.Socket("127.0.0.1", srv.boundPort)
    val sub = NbqlClient.connect("127.0.0.1", srv.boundPort, None, 5000)
    try {
      idle.setSoTimeout(5000)
      // one round trip: the idle connection's handler now waits on its next frame
      Wire.writeFrame(idle.getOutputStream, Wire.CmdPush, Wire.encodePush(
        "stop.m", Map.empty, 1L, Map("v" -> FieldValue.ofDouble(1.0))))
      assert(Wire.readFrame(new DataInputStream(idle.getInputStream)).cmd == Wire.CmdManipulate)
      val s = sub.subscribe("stop.*", Map.empty)
      val t0 = System.nanoTime()
      srv.stop()
      // EOF or a reset, not the 5 s read timeout
      val idleEnd = scala.util.Try(idle.getInputStream.read())
      assert(idleEnd == scala.util.Success(-1) ||
        idleEnd.failed.toOption.exists(e => e.isInstanceOf[java.io.IOException] &&
          !e.isInstanceOf[java.net.SocketTimeoutException]), s"idle client saw $idleEnd")
      val subEnd = scala.util.Try(s.next())
      assert(subEnd.failed.toOption.exists(e => e.isInstanceOf[java.io.IOException] &&
        !e.isInstanceOf[java.net.SocketTimeoutException]), s"subscriber saw $subEnd")
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 1000.0, f"connections outlived stop() by $ms%.0f ms")
    } finally {
      try idle.close() catch { case _: Exception => () }
      try sub.close() catch { case _: Exception => () }
      srv.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
