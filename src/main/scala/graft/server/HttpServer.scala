package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.nbql._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

/** The serving layer (S10): `POST /api/nbql` with `{"query": "<nbql>"}`,
  * mirroring the reference's HTTP endpoint (`server/http_server.go:37,
  * 105-155`) — built on the JDK's `com.sun.net.httpserver` so the library
  * adds no dependencies.
  *
  * Responses (shapes follow `api/nbql/nbql.go:126-141`):
  *  - acks:    `{"status":"ok","message":"OK 3"}`
  *  - queries: `{"status":"ok","results":[…],"row_count":N,
  *              "next_cursor":"…"}` — next_cursor only when LIMIT filled
  *              the page (`api/nbql/executor.go:349-351`)
  *  - errors:  400 parse / 401 unauthenticated / 403 role / 405 method /
  *             500 execution, body `{"status":"error","error":"…"}`
  *
  * `?stream=1` switches a query to chunked NDJSON — one JSON object per
  * row pulled through `Dataset.toLocalIterator`, then a trailer line
  * `{"done":true,"row_count":N,"next_cursor":…}`. That is S9's row
  * streaming (the reference's framed TCP parts,
  * `server/tcp_connection_handler.go:183-210`) without materializing the
  * result on the driver: partitions stream as they finish, memory is
  * O(one partition).
  *
  * Auth (optional): HTTP Basic against the binary user file
  * (`auth/authenticator.go`); QUERY/SHOW need `reader`, everything that
  * mutates needs `writer`. */
final class GraftHttpServer(executor: NbqlExecutor, port: Int = 0,
    authenticator: Option[Authenticator] = None) {

  // the JDK http server leaves Nagle ON unless this property is set
  // before ServerImpl reads its config — same request/response stall the
  // framed TCP path had (SCALE.md r13: ~16 ms per small round-trip)
  GraftHttpServer.ensureNoDelay()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.createContext("/api/nbql", (ex: HttpExchange) => handle(ex))
  server.createContext("/query", (ex: HttpExchange) => handleUi(ex))
  server.createContext("/metrics", (ex: HttpExchange) => handleMetrics(ex))
  server.createContext("/monitor",
    (ex: HttpExchange) => handleStatic(ex, GraftHttpServer.MonitorPageHtml))
  server.createContext("/memstats",
    (ex: HttpExchange) => handleStatic(ex, GraftHttpServer.MemstatsPageHtml))
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)
  /** actual bound port (pass port=0 for an ephemeral one in tests). */
  def boundPort: Int = server.getAddress.getPort

  private def requiredRole(st: Statement): String = st match {
    case _: QueryStatement | _: ShowStatement => Auth.RoleReader
    case _ => Auth.RoleWriter
  }

  private def reply(ex: HttpExchange, code: Int, jv: JValue): Unit = {
    val body = JsonMethods.compact(JsonMethods.render(jv)).getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, body.length.toLong)
    ex.getResponseBody.write(body)
    ex.close()
  }

  private def err(ex: HttpExchange, code: Int, msg: String): Unit =
    reply(ex, code, JObject("status" -> JString("error"), "error" -> JString(msg)))

  private def basicUser(ex: HttpExchange, auth: Authenticator): Option[Auth.UserRecord] =
    for {
      header <- Option(ex.getRequestHeaders.getFirst("Authorization"))
      if header.startsWith("Basic ")
      decoded <- scala.util.Try(new String(
        Base64.getDecoder.decode(header.stripPrefix("Basic ")), UTF_8)).toOption
      colon = decoded.indexOf(':') if colon >= 0
      user <- auth.authenticate(decoded.take(colon), decoded.drop(colon + 1))
    } yield user

  /** `GET /query`: the reference serves a small query UI page next to the
    * API (`server/http_server.go:37-38` → `ui/query.html`); same here — a
    * dependency-free page posting NBQL to `/api/nbql` and rendering the
    * JSON result as a table. */
  private def handleUi(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") return err(ex, 405, "Only GET is allowed")
    val body = GraftHttpServer.QueryPageHtml.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
    ex.sendResponseHeaders(200, body.length.toLong)
    ex.getResponseBody.write(body)
    ex.close()
  }

  private def handleStatic(ex: HttpExchange, html: String): Unit = {
    if (ex.getRequestMethod != "GET") return err(ex, 405, "Only GET is allowed")
    val body = html.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
    ex.sendResponseHeaders(200, body.length.toLong)
    ex.getResponseBody.write(body)
    ex.close()
  }

  /** `GET /metrics`: engine + JVM internals as one JSON object — the
    * expvar-style endpoint the reference's monitor pages poll
    * (`server/metric_server.go:41`, expvar under `/metrics`). Engine
    * figures come from the live components (commit-log version, WAF
    * accounting via the default PostCompaction listener, result-cache
    * hit/miss, hook post-listener errors, maintenance decision counts);
    * the `memstats` block is the
    * JVM analog of Go's runtime.MemStats that `ui/memstats.html` charts. */
  private def handleMetrics(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") return err(ex, 405, "Only GET is allowed")
    val eng = executor.engine
    val cs = eng.compactionStats
    val (hits, misses) = eng.cacheStats
    val rt = Runtime.getRuntime
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val heap = mem.getHeapMemoryUsage
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    var gcCount = 0L; var gcMs = 0L
    gcs.forEach { g =>
      if (g.getCollectionCount > 0) gcCount += g.getCollectionCount
      if (g.getCollectionTime > 0) gcMs += g.getCollectionTime
    }
    val (dataFiles, l0Files) = eng.fileCounts
    // one evaluation — each logStats call pays a log-directory listing
    // plus a checkpoint lookup, and /metrics is scraped continuously
    val (lastCkpt, logManifests) = eng.logStats
    reply(ex, 200, JObject(
      "engine" -> JObject(List[JField](
        "version" -> JLong(eng.version),
        "data_files" -> JLong(dataFiles.toLong),
        "l0_files" -> JLong(l0Files.toLong),
        "inline_commits" -> JLong(eng.inlineCommitCount.toLong),
        "last_checkpoint" -> JLong(lastCkpt),
        "log_manifests" -> JLong(logManifests.toLong),
        "write_stalls" -> JLong(eng.writeStallCount),
        "compaction_events" -> JLong(cs.events),
        "compaction_bytes_read" -> JLong(cs.bytesRead),
        "compaction_bytes_written" -> JLong(cs.bytesWritten),
        "compaction_waf" -> JDouble(cs.waf),
        "query_cache_hits" -> JLong(hits),
        "query_cache_misses" -> JLong(misses),
        "hook_errors" -> JLong(eng.hooks.errorCount)) ++
        eng.maintenanceCounts.map { case (k, n) => JField(k, JLong(n)) }),
      "memstats" -> JObject(
        "heap_used" -> JLong(heap.getUsed),
        "heap_committed" -> JLong(heap.getCommitted),
        "heap_max" -> JLong(heap.getMax),
        "gc_count" -> JLong(gcCount),
        "gc_time_ms" -> JLong(gcMs),
        "threads" -> JLong(
          java.lang.management.ManagementFactory.getThreadMXBean.getThreadCount.toLong),
        "processors" -> JLong(rt.availableProcessors().toLong))))
  }

  private def handle(ex: HttpExchange): Unit =
    try handleInner(ex)
    catch { case e: Exception => err(ex, 500, s"internal: ${e.getMessage}") }

  private def handleInner(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return err(ex, 405, "Only POST is allowed")

    val user = authenticator match {
      case None => None
      case Some(a) =>
        basicUser(ex, a) match {
          case None =>
            ex.getResponseHeaders.set("WWW-Authenticate", "Basic realm=\"graft\"")
            return err(ex, 401, "invalid username or password")
          case some => some
        }
    }

    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val query = scala.util.Try(JsonMethods.parse(body) \ "query").toOption match {
      case Some(JString(q)) if q.nonEmpty => q
      case Some(_) => return err(ex, 400, "Query cannot be empty")
      case None => return err(ex, 400, "Invalid JSON format")
    }

    NbqlParser.parse(query) match {
      case Left(perr) => err(ex, 400, s"Query parsing error: $perr")
      case Right(st) =>
        val denied = authenticator.zip(user).collectFirst {
          case (a, u) if !a.authorize(u, requiredRole(st)) => u
        }
        denied match {
          case Some(u) =>
            return err(ex, 403,
              s"user '${u.username}' with role '${u.role}' is not authorized")
          case None => ()
        }
        executor.run(st) match {
          case Left(eerr) => err(ex, 500, s"Query execution error: $eerr")
          case Right(a: executor.Ack) =>
            reply(ex, 200, JObject("status" -> JString("ok"),
              "message" -> JString(a.message)))
          case Right(r: executor.Rows) =>
            val streaming = Option(ex.getRequestURI.getQuery).exists(
              _.split("&").contains("stream=1"))
            if (streaming) streamRows(ex, r) else bufferRows(ex, r)
        }
    }
  }

  /** Buffered JSON path, BUDGETED: collects at most the engine's
    * serving-row budget (bounded driver allocation no matter the result
    * size). A budget cut surfaces as `truncated: true` plus — for
    * cursor-capable shapes — a `next_cursor` to resume with AFTER; for
    * shapes with no cursor keyset the client should re-issue with
    * `stream=1` (the NDJSON path streams the full plan off
    * `toLocalIterator` without materializing). */
  private def bufferRows(ex: HttpExchange, r: NbqlExecutor#Rows): Unit = {
    val schema = r.schema
    val (rows, next, truncated) = r.pageBudgeted(executor.engine.servingRowBudget)
    val fields = List(
      "status" -> JString("ok"),
      "results" -> JArray(rows.map(row => RowJson.toJValue(row, schema)).toList),
      "row_count" -> JLong(rows.length.toLong)) ++
      next.map(c => "next_cursor" -> JString(c)) ++
      (if (truncated) List("truncated" -> JBool(true)) else Nil)
    reply(ex, 200, JObject(fields))
  }

  /** S9: chunked NDJSON, one row per line via toLocalIterator — rows flow
    * as partitions complete; nothing is materialized driver-side. */
  private def streamRows(ex: HttpExchange, r: NbqlExecutor#Rows): Unit = {
    val schema = r.schema
    ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
    ex.sendResponseHeaders(200, 0) // length 0 = chunked transfer
    val out = ex.getResponseBody
    def writeLine(jv: JValue): Unit = {
      out.write((JsonMethods.compact(JsonMethods.render(jv)) + "\n").getBytes(UTF_8))
      out.flush()
    }
    var delivered = 0L
    var last: Option[Row] = None
    try {
      val it = r.rowIterator()
      while (it.hasNext) {
        val row = it.next()
        writeLine(RowJson.toJValue(row, schema))
        delivered += 1
        last = Some(row)
      }
      val trailer = List("done" -> JBool(true), "row_count" -> JLong(delivered)) ++
        r.nextCursor(delivered, last).map(c => "next_cursor" -> JString(c))
      writeLine(JObject(trailer))
    } catch {
      case e: Exception => // mid-stream failure: error trailer, stream stays valid NDJSON
        writeLine(JObject("done" -> JBool(false), "error" -> JString(e.getMessage)))
    } finally ex.close()
  }
}

/** Schema-driven Row → json4s rendering (Spark's `toJSON` needs a
  * serializable Dataset round-trip; this renders driver-side rows from
  * collect/toLocalIterator directly). */
private[server] object RowJson {
  def toJValue(row: Row, schema: StructType): JValue =
    JObject(schema.fields.toList.zipWithIndex.map { case (f, i) =>
      f.name -> valueToJ(if (row.isNullAt(i)) null else row.get(i), f.dataType)
    })

  private def valueToJ(v: Any, dt: DataType): JValue =
    if (v == null) JNull
    else dt match {
      case StringType => JString(v.toString)
      case LongType | IntegerType | ShortType | ByteType =>
        JLong(v.asInstanceOf[Number].longValue())
      case DoubleType | FloatType =>
        val d = v.asInstanceOf[Number].doubleValue()
        if (d.isNaN || d.isInfinite) JString(d.toString) else JDouble(d)
      case BooleanType => JBool(v.asInstanceOf[Boolean])
      case BinaryType =>
        JString(Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]))
      case MapType(_, vt, _) =>
        JObject(v.asInstanceOf[scala.collection.Map[Any, Any]].toList
          .map { case (k, x) => k.toString -> valueToJ(x, vt) }
          .sortBy(_._1))
      case ArrayType(et, _) =>
        JArray(v.asInstanceOf[scala.collection.Seq[Any]].toList.map(valueToJ(_, et)))
      case st: StructType => toJValue(v.asInstanceOf[Row], st)
      case _ => JString(v.toString)
    }
}

object GraftHttpServer {
  /** `sun.net.httpserver.nodelay` is read once when the JDK server's
    * config class initializes — set it before the first
    * `HttpServer.create` in this JVM. Idempotent; an explicit "false"
    * set by the operator is respected. */
  private[server] def ensureNoDelay(): Unit =
    if (System.getProperty("sun.net.httpserver.nodelay") == null) {
      System.setProperty("sun.net.httpserver.nodelay", "true"); ()
    }

  /** Minimal query console, served at `GET /query`. */
  private[server] val QueryPageHtml: String =
    """<!doctype html><html><head><meta charset="utf-8"><title>graft query</title>
      |<style>
      | body{font-family:monospace;margin:2em;max-width:70em}
      | textarea{width:100%;height:6em;font:inherit}
      | table{border-collapse:collapse;margin-top:1em}
      | td,th{border:1px solid #999;padding:2px 8px;text-align:left}
      | #err{color:#b00}
      |</style></head><body>
      |<h3>graft NBQL console</h3>
      |<textarea id="q">SHOW METRICS;</textarea><br>
      |<button onclick="run()">Run</button> <span id="err"></span>
      |<p style="color:#666">e.g. QUERY cpu FROM RELATIVE(1h) AGGREGATE BY 1m (avg(v)) ·
      | QUERY cpu ANALYZE RATE(v) SPLIT AUTO ·
      | QUERY cpu ANALYZE DELTA(v) · QUERY cpu ANALYZE PREDICT(v, 7d) ·
      | QUERY a ANALYZE CORRELATE(v, b, host) BY 1h ·
      | EXPLAIN QUERY cpu FROM 0 TO 9 · SHOW CARDINALITY BY 1h</p>
      |<div id="out"></div>
      |<script>
      |async function run(){
      |  const err=document.getElementById('err'), out=document.getElementById('out');
      |  err.textContent=''; out.innerHTML='';
      |  const r=await fetch('/api/nbql',{method:'POST',
      |    headers:{'Content-Type':'application/json'},
      |    body:JSON.stringify({query:document.getElementById('q').value})});
      |  const j=await r.json();
      |  if(j.status!=='ok'){err.textContent=j.error||('HTTP '+r.status);return;}
      |  if(!j.results){out.textContent=j.message||'OK';return;}
      |  const rows=j.results; if(!rows.length){out.textContent='(0 rows)';return;}
      |  const cols=Object.keys(rows[0]);
      |  let h='<table><tr>'+cols.map(c=>'<th>'+c+'</th>').join('')+'</tr>';
      |  for(const row of rows)
      |    h+='<tr>'+cols.map(c=>'<td>'+JSON.stringify(row[c])+'</td>').join('')+'</tr>';
      |  out.innerHTML=h+'</table>'+(j.next_cursor?'<p>next_cursor: '+j.next_cursor+'</p>':'');
      |}
      |</script></body></html>""".stripMargin

  /** Monitoring dashboard at `GET /monitor` (ref `ui/monitor.html` +
    * `server/metric_server.go:51-55`): polls `/metrics` and renders the
    * engine section as a live table. Dependency-free (the reference pulls
    * Chart.js from a CDN; this container has no egress and the numbers,
    * not the charts, are the contract). */
  private[server] val MonitorPageHtml: String =
    """<!doctype html><html><head><meta charset="utf-8"><title>graft monitor</title>
      |<style>
      | body{font-family:monospace;margin:2em;max-width:70em}
      | table{border-collapse:collapse;margin-top:1em}
      | td,th{border:1px solid #999;padding:2px 8px;text-align:left}
      | .k{font-weight:bold} #err{color:#b00}
      |</style></head><body>
      |<h3>graft engine monitor</h3>
      |<p>auto-refreshes every 2s from <a href="/metrics">/metrics</a>.
      | <a href="/query">query console</a> · <a href="/memstats">memstats</a></p>
      |<span id="err"></span><div id="out">loading…</div>
      |<script>
      |async function tick(){
      |  const err=document.getElementById('err'), out=document.getElementById('out');
      |  try{
      |    const j=await (await fetch('/metrics')).json();
      |    err.textContent='';
      |    let h='<table><tr><th>metric</th><th>value</th></tr>';
      |    for(const [k,v] of Object.entries(j.engine))
      |      h+='<tr><td class="k">'+k+'</td><td>'+v+'</td></tr>';
      |    out.innerHTML=h+'</table>';
      |  }catch(e){err.textContent=''+e;}
      |}
      |tick(); setInterval(tick, 2000);
      |</script></body></html>""".stripMargin

  /** JVM memory page at `GET /memstats` (ref `ui/memstats.html`, which
    * charts Go runtime.MemStats): the JVM heap/GC analog, polling the
    * same `/metrics` endpoint's memstats block. */
  private[server] val MemstatsPageHtml: String =
    """<!doctype html><html><head><meta charset="utf-8"><title>graft memstats</title>
      |<style>
      | body{font-family:monospace;margin:2em;max-width:70em}
      | table{border-collapse:collapse;margin-top:1em}
      | td,th{border:1px solid #999;padding:2px 8px;text-align:left}
      | .k{font-weight:bold} #err{color:#b00}
      |</style></head><body>
      |<h3>graft JVM memstats</h3>
      |<p>auto-refreshes every 2s from <a href="/metrics">/metrics</a>.
      | <a href="/monitor">engine monitor</a></p>
      |<span id="err"></span><div id="out">loading…</div>
      |<script>
      |function fmt(k,v){return /heap|bytes/.test(k)? (v/1048576).toFixed(1)+' MiB ('+v+')' : v;}
      |async function tick(){
      |  const err=document.getElementById('err'), out=document.getElementById('out');
      |  try{
      |    const j=await (await fetch('/metrics')).json();
      |    err.textContent='';
      |    let h='<table><tr><th>stat</th><th>value</th></tr>';
      |    for(const [k,v] of Object.entries(j.memstats))
      |      h+='<tr><td class="k">'+k+'</td><td>'+fmt(k,v)+'</td></tr>';
      |    out.innerHTML=h+'</table>';
      |  }catch(e){err.textContent=''+e;}
      |}
      |tick(); setInterval(tick, 2000);
      |</script></body></html>""".stripMargin
}
