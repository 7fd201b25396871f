package graft.client

import graft.model.FieldValue
import graft.server.Wire
import java.io.{BufferedOutputStream, DataInputStream, EOFException}
import java.net.Socket

/** Client-side error surfaced from a server CmdError frame (the analog of
  * the reference Python client's `APIError`,
  * `clients/nbql/python/nbql/exceptions.py`). */
final class NbqlApiError(val code: Int, message: String)
    extends RuntimeException(s"[$code] $message")

/** A decoded query: raw/aggregated rows as [[Wire.PointItem]]s, the total
  * row count from the QueryEnd trailer, and the keyset cursor (empty when
  * the page was the last) — mirrors the dict the reference client returns
  * (`client.py:query` merging result parts + the end frame). */
final case class QueryResult(rows: Seq[Wire.PointItem], totalRows: Long,
    nextCursor: String) {
  def hasMore: Boolean = nextCursor.nonEmpty
}

/** NBQL client over the framed TCP wire protocol — the library a user of
  * the reference's Python/Go/TypeScript clients
  * (`clients/nbql/python/nbql/client.py`, `clients/goclient`) would reach
  * for here, speaking the same byte-compatible frames ([[Wire]]):
  *
  *  - `connect`/auth handshake (`server/tcppacket.go` packet layout) when
  *    credentials are given;
  *  - `query("QUERY m TAGGED (host=?)", "h1")` — `?` parameter
  *    substitution with the reference client's quoting rules
  *    (`client.py:_quote_param`: numbers bare, strings double-quoted with
  *    `"` doubled) so tag values can never inject NBQL;
  *  - typed result rows ([[Wire.PointItem]]: metric/tags/timestamp/fields
  *    or window aggregates) assembled from the streamed QueryResultPart
  *    frames until the QueryEnd trailer;
  *  - cursor walk: [[QueryResult.nextCursor]] + [[queryAfter]] resume a
  *    LIMIT query keyset-style (`AFTER <cursor>`), like the reference
  *    executor's NextCursor contract (`api/nbql/executor.go:349-351`);
  *  - binary PUSH/PUSHS fast path for ingest (no text parsing
  *    server-side, `tcp_connection_handler.go:120-151`).
  *
  * One socket, used serially (the protocol is request/response) — share a
  * client across threads by external synchronization or one client per
  * thread, as with the reference clients. */
final class NbqlClient private (sock: Socket) extends AutoCloseable {
  private val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
  private val out = new BufferedOutputStream(sock.getOutputStream)

  // ---- parameter substitution (client.py:62-88) ---------------------------

  private def quoteParam(p: Any): String = p match {
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Float | _: Double) => n.toString
    case s: String => "\"" + s.replace("\"", "\"\"") + "\""
    case other => throw new IllegalArgumentException(
      s"unsupported parameter type: ${other.getClass.getSimpleName}")
  }

  /** Substitute `?` placeholders with safely-quoted params; arity checked
    * like the reference (`client.py:_format_query`). */
  private[client] def formatQuery(template: String, params: Seq[Any]): String = {
    val parts = template.split("\\?", -1)
    require(parts.length - 1 == params.length,
      s"query placeholder mismatch: ${parts.length - 1} '?' but ${params.length} params")
    parts.zipAll(params.map(quoteParam), "", "").map { case (a, b) => a + b }.mkString
  }

  // ---- request/response --------------------------------------------------

  /** One request frame, flushed: frames are written unflushed
    * ([[Wire.writeFrame]]), and each request is a whole message. */
  private def send(cmd: Byte, payload: Array[Byte]): Unit = {
    Wire.writeFrame(out, cmd, payload)
    out.flush()
  }

  private def fail(payload: Array[Byte]): Nothing = {
    val i = new Wire.Reader(payload)
    val code = i.readUnsignedShort()
    throw new NbqlApiError(code, i.readString())
  }

  /** The count a QueryEnd or Manipulate payload carries after its status. */
  private def countOf(payload: Array[Byte]): Long = {
    val i = new Wire.Reader(payload)
    i.readByte() // status
    i.readLong()
  }

  /** Execute an NBQL statement, with optional `?` parameter substitution.
    * QUERY/SHOW statements collect the streamed parts; mutations return
    * an empty-row [[QueryResult]] whose `totalRows` is rows affected. */
  def query(q: String, params: Any*): QueryResult = synchronized {
    val text = if (params.isEmpty) q else formatQuery(q, params)
    send(Wire.CmdQuery, Wire.build(_.string(text)))
    val rows = Seq.newBuilder[Wire.PointItem]
    var cursor = ""
    while (true) {
      val frame = Wire.readFrame(in)
      frame.cmd match {
        case Wire.CmdError => fail(frame.payload)
        case Wire.CmdQueryResultPart =>
          val (items, c) = Wire.decodeQueryResultParts(frame.payload)
          rows ++= items
          if (c.nonEmpty) cursor = c
        case Wire.CmdQueryEnd =>
          return QueryResult(rows.result(), countOf(frame.payload), cursor)
        case Wire.CmdManipulate =>
          return QueryResult(Nil, countOf(frame.payload), "")
        case other => throw new NbqlApiError(500,
          s"unexpected frame 0x${"%02x".format(other)} during query")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Resume a LIMIT query after a cursor from a previous page. */
  def queryAfter(q: String, cursor: String): QueryResult =
    query(s"$q AFTER $cursor")

  /** Walk every page of a LIMIT query (keyset pagination) and return all
    * rows — the cursor-loop idiom from the reference client's README. */
  def queryAllPages(q: String, maxPages: Int = 10000): Seq[Wire.PointItem] = {
    val all = Seq.newBuilder[Wire.PointItem]
    var page = query(q)
    var pages = 1
    all ++= page.rows
    while (page.hasMore && pages < maxPages) {
      page = queryAfter(q, page.nextCursor)
      all ++= page.rows
      pages += 1
    }
    all.result()
  }

  private def manipulate(cmd: Byte, payload: Array[Byte]): Long = synchronized {
    send(cmd, payload)
    rowsAffected()
  }

  private def rowsAffected(): Long = {
    val frame = Wire.readFrame(in)
    frame.cmd match {
      case Wire.CmdError => fail(frame.payload)
      case Wire.CmdManipulate => countOf(frame.payload)
      case other => throw new NbqlApiError(500,
        s"unexpected frame 0x${"%02x".format(other)} for push")
    }
  }

  /** A live update delivered on a subscription: `isDelete` distinguishes
    * DELETE notifications (fields carry delete_kind/start_ns/end_ns)
    * from PUT points — the reference's `DataPointUpdate.UpdateType`. */
  final case class SubscriptionUpdate(item: Wire.PointItem, isDelete: Boolean) {
    def updateType: String = if (isDelete) "DELETE" else "PUT"
  }

  /** Blocking cursor over a live subscription. The subscription owns the
    * connection (like the reference's gRPC Subscribe stream) — close()
    * ends it; use a separate client for queries. */
  final class Subscription private[NbqlClient] (startVersion: Long) {
    /** Commit-log version the subscription started after — only commits
      * later than this stream. */
    def sinceVersion: Long = startVersion
    /** Next matching update (blocks up to the socket timeout). */
    def next(): SubscriptionUpdate = {
      val frame = Wire.readFrame(in)
      frame.cmd match {
        case Wire.CmdError => fail(frame.payload)
        case Wire.CmdQueryResultPart =>
          val (items, _) = Wire.decodeQueryResultParts(frame.payload)
          SubscriptionUpdate(items.head, (frame.payload(1) & Wire.FlagIsDelete) != 0)
        case other => throw new NbqlApiError(500,
          s"unexpected frame 0x${"%02x".format(other)} on subscription")
      }
    }
    def close(): Unit = NbqlClient.this.close()
  }

  /** Subscribe to live PUT/DELETE updates for metrics/tags matching the
    * trailing-`*` patterns. Takes over this connection until closed. */
  def subscribe(metricPattern: String,
      tagPatterns: Map[String, String] = Map.empty): Subscription = synchronized {
    send(Wire.CmdSubscribe, Wire.encodeSubscribe(metricPattern, tagPatterns))
    val frame = Wire.readFrame(in)
    frame.cmd match {
      case Wire.CmdError => fail(frame.payload)
      case Wire.CmdManipulate => new Subscription(countOf(frame.payload))
      case other => throw new NbqlApiError(500,
        s"unexpected frame 0x${"%02x".format(other)} for subscribe")
    }
  }

  /** Binary single-point push (CmdPush). Returns rows affected. */
  def push(metric: String, fields: Map[String, FieldValue],
      timestampNs: Long, tags: Map[String, String] = Map.empty): Long =
    manipulate(Wire.CmdPush, Wire.encodePush(metric, tags, timestampNs, fields))

  /** Binary bulk push (CmdPushs — the high-volume fast path). Points are
    * (metric, tags, timestampNs, fields), encoded in place into the one
    * frame of the request ([[Wire.FrameBuilder]]). Returns rows affected. */
  def pushBulk(points: Seq[(String, Map[String, String], Long, Map[String, FieldValue])]): Long =
    synchronized {
      val b = new Wire.FrameBuilder().frame(Wire.CmdPushs).int32(points.size)
      points.foreach { case (metric, tags, ts, fields) =>
        Wire.writePush(b, metric, tags, ts, fields)
      }
      b.send(out)
      out.flush()
      rowsAffected()
    }

  def close(): Unit = {
    try sock.close() catch { case _: Exception => () }
  }
}

object NbqlClient {

  /** Connect, completing the auth handshake when credentials are given
    * (must match the server's authenticator configuration). */
  def connect(host: String, port: Int,
      credentials: Option[(String, String)] = None,
      timeoutMs: Int = 30000): NbqlClient = {
    val sock = new Socket()
    sock.connect(new java.net.InetSocketAddress(host, port), timeoutMs)
    sock.setSoTimeout(timeoutMs)
    // request/response protocol with small frames: Nagle + delayed-ACK
    // interaction turns each query into a multi-ms stall otherwise
    sock.setTcpNoDelay(true)
    credentials.foreach { case (user, pass) =>
      val out = sock.getOutputStream
      out.write(Wire.encodeAuthRequest(user, pass)); out.flush()
      val in = new DataInputStream(sock.getInputStream)
      val ver = in.readByte(); val op = in.readByte()
      val plen = in.readUnsignedShort()
      val payload = new Array[Byte](plen); in.readFully(payload)
      if (ver != 1 || op != Wire.AuthResponseOp)
        throw new EOFException("malformed auth response")
      val pi = new Wire.Reader(payload)
      val status = pi.readByte()
      val message = pi.readString()
      if (status != Wire.AuthOk) {
        sock.close()
        throw new NbqlApiError(401, message)
      }
    }
    new NbqlClient(sock)
  }
}
