package graft.server

import graft.model.FieldValue
import graft.nbql._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.io.{DataInputStream, BufferedOutputStream, EOFException}
import java.net.{ServerSocket, Socket}
import java.util.concurrent.Executors

/** The reference's framed TCP wire protocol (S10b), byte-compatible with
  * `server/tcp_connection_handler.go` + `api/nbql/nbql.go` — see [[Wire]]
  * for the frame/payload layouts. This is the reference's high-volume
  * ingest path: PUSH (0x01) and PUSHS (0x02) frames carry binary-encoded
  * points that BYPASS the text parser entirely (the "binary fast path",
  * `tcp_connection_handler.go:120-151`), QUERY (0x10) carries an NBQL
  * string whose results stream back one point per QueryResultPart frame
  * followed by a QueryEnd trailer — the framed analog of the HTTP
  * server's NDJSON streaming, fed by the same `toLocalIterator` seam (no
  * driver materialization).
  *
  * When an [[Authenticator]] is configured the connection must complete
  * the reference's handshake first (`server/tcppacket.go`): an
  * authentication packet with uint16-prefixed username/password, answered
  * with ok/error; reader role gates QUERY/SHOW, writer gates mutations —
  * same policy as HTTP (`auth/authenticator.go:142-155`). */
final class GraftTcpServer(executor: NbqlExecutor, port: Int = 0,
    authenticator: Option[Authenticator] = None) {

  private val server = new ServerSocket(port, 64,
    java.net.InetAddress.getByName("127.0.0.1"))
  private val pool = Executors.newCachedThreadPool()
  @volatile private var running = false
  /** Open connections, so [[stop]] can close them: a thread blocked in a
    * socket read ignores the pool's interrupt. */
  private val conns = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  /** Liveness fallback for live subscriptions (S8 over TCP): the push
    * loop normally wakes on [[commitSignal]] the instant a commit lands,
    * so this bounds only how long a MISSED signal (e.g. an engine shared
    * with another process) can delay delivery. Raising it costs nothing
    * on the happy path. */
  @volatile var subscriptionPollMs: Long = 100L

  /** Per-commit push signal: a `PostManifestWrite` listener (registered
    * at [[start]]) notifies this monitor the moment any commit lands, so
    * subscription delivery latency tracks the reference's per-Put
    * publish (`engine2/pubsub.go:105-126`) instead of a poll interval.
    * The waiter re-checks the log tip UNDER the monitor before waiting,
    * which closes the missed-notify race (commit between drain and
    * wait). */
  private val commitSignal = new Object

  // held so stop() can unregister — restart cycles on a shared engine
  // must not accumulate dead listeners in its hook registry
  private val commitListener = graft.hooks.HookListener({ _ =>
    commitSignal.synchronized { commitSignal.notifyAll() }; Right(())
  })

  def boundPort: Int = server.getLocalPort

  def start(): Unit = {
    running = true
    executor.engine.hooks.register(graft.hooks.EventType.PostManifestWrite,
      commitListener)
    pool.submit(new Runnable {
      def run(): Unit = while (running) {
        try {
          val sock = server.accept()
          sock.setTcpNoDelay(true) // see NbqlClient.connect — small frames
          conns.add(sock)
          // a stop() that ran since accept returned may have missed it
          if (!running) closeQuietly(sock)
          else pool.submit(new Runnable { def run(): Unit = handle(sock) })
          ()
        } catch { case _: Exception if !running => () case _: Exception => () }
      }
    })
    ()
  }

  /** Stops accepting, closes every open connection — a handler blocked
    * reading its next frame sees the socket close at once — and
    * interrupts the handlers (a subscription waiting for a commit). */
  def stop(): Unit = {
    running = false
    executor.engine.hooks.unregister(
      graft.hooks.EventType.PostManifestWrite, commitListener)
    try server.close() catch { case _: Exception => () }
    conns.forEach(closeQuietly(_))
    pool.shutdownNow(); ()
  }

  private def closeQuietly(sock: Socket): Unit =
    try sock.close() catch { case _: Exception => () }

  private def requiredRole(st: Statement): String = st match {
    case _: QueryStatement | _: ShowStatement => Auth.RoleReader
    case _ => Auth.RoleWriter
  }

  private def handle(sock: Socket): Unit = {
    val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
    val out = new BufferedOutputStream(sock.getOutputStream)
    try {
      val user = authenticator match {
        case None => None
        case Some(auth) =>
          // handshake: [version:1][op:1][len:2][user,pass]
          val ver = in.readByte(); val op = in.readByte()
          val plen = in.readUnsignedShort()
          val payload = new Array[Byte](plen); in.readFully(payload)
          val ok =
            if (ver != 1 || op != Wire.AuthRequestOp) None
            else {
              val pi = new Wire.Reader(payload)
              auth.authenticate(pi.readString(), pi.readString())
            }
          ok match {
            case None =>
              out.write(Wire.encodeAuthResponse(ok = false,
                "invalid username or password"))
              out.flush(); return
            case some =>
              out.write(Wire.encodeAuthResponse(ok = true, "authenticated"))
              out.flush(); some
          }
      }
      while (true) {
        val frame = Wire.readFrame(in)
        dispatch(frame, out, user)
        out.flush() // one flush per message: frames are written unflushed
      }
    } catch {
      case _: EOFException => () // client closed
      case _: java.io.IOException => ()
      case e: Exception =>
        try {
          Wire.writeFrame(out, Wire.CmdError, Wire.encodeError(500,
            s"internal: ${e.getMessage}"))
          out.flush()
        } catch { case _: Exception => () }
    } finally {
      conns.remove(sock)
      closeQuietly(sock)
    }
  }

  private def dispatch(frame: Wire.Frame, out: java.io.OutputStream,
      user: Option[Auth.UserRecord]): Unit = {
    val stmtE: Either[String, Statement] = frame.cmd match {
      case Wire.CmdPush => Right(GraftTcpServer.readPush(new Wire.Reader(frame.payload)))
      case Wire.CmdPushs => Right(GraftTcpServer.decodePushs(frame.payload))
      case Wire.CmdQuery =>
        NbqlParser.parse(new Wire.Reader(frame.payload).readString())
      case Wire.CmdSubscribe =>
        // long-running: takes over the connection (like the reference's
        // gRPC Subscribe stream) — never returns to the dispatch loop
        // until the client disconnects
        val denied = authenticator.zip(user).exists { case (a, u) =>
          !a.authorize(u, Auth.RoleReader) }
        if (denied)
          Wire.writeFrame(out, Wire.CmdError, Wire.encodeError(403,
            s"user '${user.map(_.username).getOrElse("")}' is not authorized"))
        else {
          val i = new Wire.Reader(frame.payload)
          streamSubscription(out, i.readString(), i.readTags())
        }
        return
      case other => Left(s"unknown command type: 0x${"%02x".format(other)}")
    }

    stmtE match {
      case Left(err) =>
        Wire.writeFrame(out, Wire.CmdError, Wire.encodeError(400, err))
      case Right(st) =>
        val denied = authenticator.zip(user).exists { case (a, u) =>
          !a.authorize(u, requiredRole(st)) }
        if (denied) {
          Wire.writeFrame(out, Wire.CmdError, Wire.encodeError(403,
            s"user '${user.map(_.username).getOrElse("")}' is not authorized"))
          return
        }
        executor.run(st) match {
          case Left(err) =>
            Wire.writeFrame(out, Wire.CmdError, Wire.encodeError(500, err))
          case Right(a: executor.Ack) =>
            val rows = a.message match {
              case s if s.startsWith("OK ") =>
                scala.util.Try(s.stripPrefix("OK ").trim.toLong).getOrElse(0L)
              case _ => 0L
            }
            Wire.writeFrame(out, Wire.CmdManipulate,
              Wire.encodeManipulateResponse(rows, Nil))
          case Right(r: executor.Rows) => streamRows(out, r)
        }
    }
  }

  /** Live subscription over the framed transport (the TCP carrier for
    * S8/ST6 — the reference serves this on gRPC, `grpc_server.go:455-491`,
    * with PUT and DELETE update types): ack with the start version, then
    * poll the commit log and push every LATER commit's matching changes as
    * QueryResultPart frames in commit order — pure-append commits as PUT
    * rows (seq order), tombstones as DELETE frames ([[Wire.FlagIsDelete]],
    * fields carry delete_kind/start_ns/end_ns). Every frame is encoded in
    * place in the subscription's one [[Wire.FrameBuilder]] — retained
    * points from their own maps, Spark-read rows from the `Row` — and
    * the ack and each commit's frames are flushed as one message. A
    * commit of other metrics only is skipped without reading it. Runs
    * until the client disconnects (a push fails) or the server stops. */
  private def streamSubscription(out: java.io.OutputStream,
      metricPat: String, tagPats: Map[String, String]): Unit = {
    import graft.streaming.PubSub
    val engine = executor.engine
    val filter = PubSub.SubscriptionFilter(metricPat, tagPats)
    var since = engine.sync()
    Wire.writeFrame(out, Wire.CmdManipulate,
      Wire.encodeManipulateResponse(since, Nil))
    out.flush()
    val b = new Wire.FrameBuilder()
    try {
      while (running) {
        val tip = engine.sync()
        var v = since + 1
        while (v <= tip) {
          // driver-originated append commits push WITHOUT a Spark job:
          // the engine retains their rows ([[TsdbEngine.commitChangesLocal]]
          // — the reference's in-memory per-Put publish,
          // `engine2/pubsub.go:105-126`); evicted/bulk/tombstone commits
          // take the parquet read below
          val tombs = engine.commitChangesLocal(v) match {
            case Some(pts) =>
              pts.sortBy(_._2).foreach { case (p, seq) =>
                if (PubSub.matchesDriver(filter, p.metric, p.tags))
                  Wire.writeRawPart(b.frame(Wire.CmdQueryResultPart), seq,
                    p.metric, p.tags, p.timestamp, p.fields).send(out)
              }
              Nil // an append commit never carries tombstones
            case None =>
              val (puts, ts) = try engine.commitChanges(v,
                  PubSub.matchesMetric(filter, _)) catch {
                case _: IllegalStateException =>
                  // lagging past the truncation horizon: commit v's
                  // manifest was truncated under a checkpoint, so its
                  // per-commit changes can no longer be replayed.
                  // Pub/sub is best-effort live-tail — the reference's
                  // non-blocking publish likewise drops what a slow
                  // subscriber missed (`engine2/pubsub.go:105-126`) —
                  // so skip to the oldest commit still on disk and keep
                  // the subscription alive instead of killing the
                  // connection.
                  v = engine.oldestAvailableCommitVersion
                    .filter(_ > v).getOrElse(tip + 1) - 1
                  (None, Nil)
              }
              puts.foreach { df =>
                val matched = PubSub.subscribe(df, filter).orderBy("seq")
                // toLocalIterator, not collect: a bulk backfill commit
                // streams through the push loop one partition at a time
                // instead of materializing the whole matched set on the
                // driver (the same seam the query result path uses)
                val it = matched.toLocalIterator()
                val write = GraftTcpServer.rowWriter(matched.schema)
                while (it.hasNext) {
                  write(b.frame(Wire.CmdQueryResultPart), it.next())
                  b.send(out)
                }
              }
              ts
          }
          tombs.filter(t => PubSub.matchesDriver(filter, t.metric, t.tags))
            .foreach { t =>
              Wire.writeRawPart(b.frame(Wire.CmdQueryResultPart), t.seq,
                t.metric, t.tags, t.fromNs, Map(
                  "delete_kind" -> FieldValue.ofString(t.kind),
                  "start_ns" -> FieldValue.ofLong(t.fromNs),
                  "end_ns" -> FieldValue.ofLong(t.toNs)),
                extraFlags = Wire.FlagIsDelete).send(out)
            }
          out.flush() // one flush per commit
          since = v
          v += 1
        }
        // wake instantly on the next commit; poll interval is only the
        // missed-signal liveness bound (see commitSignal)
        commitSignal.synchronized {
          if (engine.sync() == since) commitSignal.wait(subscriptionPollMs)
        }
      }
    } catch {
      case _: java.io.IOException => ()      // client went away
      case _: InterruptedException => ()     // server stopping
    }
  }

  /** One QueryResultPart frame per row off [[NbqlExecutor.Rows.rowIterator]]
    * — the driver-resident array when the serving tiers answered (no
    * plan, no job), `toLocalIterator` over the full plan otherwise
    * (partitions stream as they finish, driver memory stays O(1 row));
    * then QueryEnd with the row count
    * (`tcp_connection_handler.go:216-280`). Each frame is encoded in
    * place in the result's one [[Wire.FrameBuilder]], a raw point row
    * straight from its `Row` ([[GraftTcpServer.rowWriter]]). Frames go
    * into the connection's buffer unflushed — the buffer writes to the
    * socket as it fills, and [[handle]] flushes once after the QueryEnd,
    * so a 360-row answer is a few socket writes, not 360. */
  private def streamRows(out: java.io.OutputStream, r: NbqlExecutor#Rows): Unit = {
    val write = GraftTcpServer.rowWriter(r.schema)
    val b = new Wire.FrameBuilder()
    var delivered = 0L
    var last: Option[Row] = None
    val it = r.rowIterator()
    while (it.hasNext) {
      val row = it.next()
      write(b.frame(Wire.CmdQueryResultPart), row)
      b.send(out)
      delivered += 1
      last = Some(row)
    }
    // the reference emits the cursor with rows; we close with it in the
    // trailer frame's message slot being empty — cursor rides NextCursor
    // on the LAST result part per `nbql.go:137-143`. Simpler and
    // compatible: a final empty result-part carrying only the cursor.
    r.nextCursor(delivered, last).foreach { c =>
      Wire.writePartHead(b.frame(Wire.CmdQueryResultPart), 0, c, items = 0).send(out)
    }
    b.frame(Wire.CmdQueryEnd).int8(Wire.StatusDataEnd).int64(delivered).string("")
      .send(out)
  }
}

object GraftTcpServer {

  /** One PUSH point (PUSHS repeats it): metric, tags, ts, fields. */
  private[graft] def readPush(i: Wire.Reader): PushStatement = {
    val metric = i.readString(); val tags = i.readTags(); val ts = i.readLong()
    PushStatement(metric, tags, i.readFields(), Some(ts))
  }

  /** PUSHS payload: int32 point count, then the points. The count is
    * claimed, not trusted — a short payload ends in `EOFException`; a
    * negative one is an empty batch. */
  private[graft] def decodePushs(payload: Array[Byte]): PushsStatement = {
    val i = new Wire.Reader(payload)
    val n = i.readInt()
    val points = Vector.newBuilder[PushStatement]
    var k = 0
    while (k < n) { points += readPush(i); k += 1 }
    PushsStatement(points.result())
  }

  /** Writes a result row of `schema` as one QueryResultPart payload into
    * a builder whose frame is open. Column indices are resolved ONCE per
    * result and every row is read BY POSITION, as the HTTP renderer does
    * — the driver-resident tiers hand back schema-less rows, where name
    * lookup throws. A raw point row (metric, tags, timestamp, fields,
    * seq) is encoded straight from the `Row`'s columns, with no item or
    * map built; aggregated and SHOW-style rows go through
    * [[pointEncoder]]. */
  private[graft] def rowWriter(schema: StructType): (Wire.FrameBuilder, Row) => Unit = {
    val names = schema.fieldNames
    val iFields = names.indexOf("fields")
    if (iFields < 0) {
      val encode = pointEncoder(schema)
      (b, row) => { Wire.writeQueryResultPart(b, encode(row)); () }
    } else {
      val Seq(iMetric, iTags, iTs, iSeq) =
        Seq("metric", "tags", "timestamp", "seq").map(names.indexOf(_))
      val value = schema(iFields).dataType.asInstanceOf[MapType].valueType
        .asInstanceOf[StructType]
      val Seq(iD, iL, iS, iB) = Seq("d", "l", "s", "b").map(value.fieldIndex)
      (b, row) => {
        Wire.writePartHead(b, 0, "")
        b.int64(if (iSeq >= 0) row.getLong(iSeq) else 0L)
        b.string(if (iMetric < 0 || row.isNullAt(iMetric)) "" else row.getString(iMetric))
        if (iTags < 0 || row.isNullAt(iTags)) b.int16(0)
        else b.tags(row.getMap[String, String](iTags))
        b.int64(row.getLong(iTs))
        // the FieldValues block, in Wire.FrameBuilder.fields' layout
        val mark = b.beginBlock()
        if (row.isNullAt(iFields)) b.int16(0)
        else {
          val fields = row.getMap[String, Row](iFields)
          b.int16(fields.size)
          fields.foreachEntry { (k, v) =>
            b.string(k)
            if (v == null) b.nilValue()
            else if (!v.isNullAt(iD)) b.doubleValue(v.getDouble(iD))
            else if (!v.isNullAt(iL)) b.longValue(v.getLong(iL))
            else if (!v.isNullAt(iS)) b.stringValue(v.getString(iS))
            else if (!v.isNullAt(iB)) b.boolValue(v.getBoolean(iB))
            else b.nilValue()
          }
        }
        b.endBlock(mark); ()
      }
    }
  }

  /** Row → wire item for a result without a `fields` column, by
    * position like [[rowWriter]]. */
  private def pointEncoder(schema: StructType): Row => Wire.PointItem = {
    val names = schema.fieldNames
    val Seq(iMetric, iTags, iTs, iWs) =
      Seq("metric", "tags", "timestamp", "window_start").map(names.indexOf(_))
    def metricOf(row: Row): String =
      if (iMetric < 0 || row.isNullAt(iMetric)) "" else row.getString(iMetric)
    def tagsOf(row: Row): Map[String, String] =
      if (iTags < 0 || row.isNullAt(iTags)) Map.empty
      else row.getMap[String, String](iTags).toMap
    if (iWs >= 0 || iTs >= 0) {
      // aggregated row: every numeric column past the keys is an aggregate
      val iW = if (iWs >= 0) iWs else iTs
      val skip = Set("metric", "tags", "series_key", "window_start", "window_end",
        "timestamp")
      val aggs = schema.fields.indices.filter { i =>
        !skip(names(i)) && (schema(i).dataType match {
          case DoubleType | FloatType | LongType | IntegerType => true
          case _ => false
        })
      }
      row => {
        val ws = row.getLong(iW)
        Wire.PointItem(0L, metricOf(row), tagsOf(row), ws, Map.empty, ws,
          aggs.filterNot(row.isNullAt)
            .map(i => names(i) -> row.get(i).asInstanceOf[Number].doubleValue),
          isAggregated = true)
      }
    } else {
      // SHOW-style rows: every column rides as a field value
      row => Wire.PointItem(0L, "", Map.empty, 0L, schema.fields.indices.map { i =>
        names(i) -> (if (row.isNullAt(i)) FieldValue.NilValue
        else schema(i).dataType match {
          case StringType => FieldValue.ofString(row.getString(i))
          case LongType | IntegerType =>
            FieldValue.ofLong(row.get(i).asInstanceOf[Number].longValue())
          case DoubleType | FloatType =>
            FieldValue.ofDouble(row.get(i).asInstanceOf[Number].doubleValue())
          case BooleanType => FieldValue.ofBool(row.getBoolean(i))
          case _ => FieldValue.ofString(String.valueOf(row.get(i)))
        })
      }.toMap, 0L, Nil, isAggregated = false)
    }
  }
}
