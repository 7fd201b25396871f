package perfbench

import graft.client.{NbqlClient, QueryResult}
import graft.model.FieldValue
import graft.nbql.{NbqlExecutor, ShowTagKeysStatement, Statement}
import graft.server.{GraftTcpServer, Wire}
import graft.tsdb.TsdbEngine

object Wiring {
  /** Hour-aligned epoch origin of every generated series (2023-11-14T22:00Z). */
  val T0: Long = 1699999200L * 1000000000L
  val Sec: Long = 1000000000L

  /** `SHOW TAG KEYS FROM <BindPrefix><client>` binds a server connection
    * to a client number, so the traced executor can give each statement
    * the same request id the client gave it. */
  val BindPrefix = "perfbench.bind."
  def reqId(client: Int, seq: Long): Long = client * 100000000L + seq

  type Pt = (String, Map[String, String], Long, Map[String, FieldValue])
  def pt(metric: String, tags: Map[String, String], ts: Long,
      fields: (String, Double)*): Pt =
    (metric, tags, ts, fields.map { case (k, v) => k -> FieldValue.ofDouble(v) }.toMap)

  /** Payload bytes of a PUSHS frame carrying `points` (what the user sends). */
  def pushsBytes(points: Seq[Pt]): Long =
    Wire.withDOS { o =>
      o.writeInt(points.size)
      points.foreach { case (m, tags, ts, fields) =>
        Wire.writeString(o, m); Wire.writeTags(o, tags)
        o.writeLong(ts); Wire.writeFields(o, fields)
      }
    }.length.toLong

  def num(f: Map[String, FieldValue], k: String): Double =
    f.get(k).flatMap(_.numeric).getOrElse(Double.NaN)

  def agg(item: Wire.PointItem, k: String): Double =
    item.aggregated.collectFirst { case (`k`, v) => v }.getOrElse(Double.NaN)

  /** |a - b| within what a different summation order can make. */
  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

/** The executor the server runs in traced mode: `run` is timed as span
  * `nbql.run` under the client's request id, and Spark jobs started on
  * the serving thread carry that id as a local property. */
final class TracingExecutor(engine: TsdbEngine, tracer: Tracer)
    extends NbqlExecutor(engine) {
  private val bound = new ThreadLocal[Array[Long]]

  /** Number the statements run on this thread from `seq + 1` on, as
    * requests of `client`. */
  def bindHere(client: Long, seq: Long): Unit = bound.set(Array(client, seq))

  override def run(st: Statement): Either[String, ExecResult] = st match {
    case ShowTagKeysStatement(m) if m.startsWith(Wiring.BindPrefix) =>
      val Array(c, q) = m.stripPrefix(Wiring.BindPrefix).split('.').map(_.toLong)
      bindHere(c, q)
      Right(Ack("OK 0"))
    case _ =>
      val b = bound.get
      val req = if (b == null) -1L else { b(1) += 1; Wiring.reqId(b(0).toInt, b(1)) }
      engine.spark.sparkContext.setLocalProperty(Observer.ReqProperty, req.toString)
      tracer.span("nbql.run", req)(super.run(st))
  }
}

/** One client connection with its request counter: every statement sent
  * gets the next request id, matching [[TracingExecutor]]'s numbering. */
final class Conn(val client: Int, srv: Served) {
  private var seq = 0L
  var nbql: NbqlClient = connect()

  private def connect(): NbqlClient = {
    val c = NbqlClient.connect("127.0.0.1", srv.port, None, 120000)
    if (srv.traced) c.query(s"SHOW TAG KEYS FROM ${Wiring.BindPrefix}$client.$seq")
    c
  }

  def nextReq(): Long = { seq += 1; Wiring.reqId(client, seq) }

  /** A query whose failure is returned, not thrown; the server closes a
    * connection after an internal error, so this one is re-opened. */
  def tryQuery(text: String): (Long, Either[String, QueryResult]) = {
    val r = nextReq()
    try (r, Right(nbql.query(text)))
    catch {
      case e: Exception =>
        nbql.close(); nbql = connect()
        (r, Left(e.toString))
    }
  }

  /** The same statement through the in-process executor, on this thread. */
  def local(text: String): (Long, Either[String, QueryResult]) = {
    srv.executor match {
      case t: TracingExecutor => t.bindHere(client, seq)
      case _ => ()
    }
    (nextReq(), srv.local(text))
  }

  def query(text: String): (Long, QueryResult) = { val r = nextReq(); (r, nbql.query(text)) }
  def push(points: Seq[Wiring.Pt]): (Long, Long) = { val r = nextReq(); (r, nbql.pushBulk(points)) }
  def close(): Unit = nbql.close()
}

/** A fresh engine under `root` behind a TCP front door. */
final class Served(val engine: TsdbEngine, tracer: Tracer) {
  val traced: Boolean = tracer.enabled
  val executor: NbqlExecutor =
    if (traced) new TracingExecutor(engine, tracer) else new NbqlExecutor(engine)
  val server = new GraftTcpServer(executor, 0)
  server.start()
  def port: Int = server.boundPort
  def stop(): Unit = { server.stop(); engine.close() }

  /** Run `text` in process and decode its rows the way the wire would,
    * reading columns by position (driver-tier rows carry no schema). */
  def local(text: String): Either[String, QueryResult] =
    try executor.execute(text).map {
      case r: executor.Rows =>
        val names = r.schema.fieldNames
        val skip = Set("metric", "tags", "series_key", "window_start", "window_end", "timestamp")
        val ws = math.max(names.indexOf("window_start"), names.indexOf("timestamp"))
        val nums = r.schema.fields.indices.filter(k => !skip(names(k)) &&
          r.schema.fields(k).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
        val items = r.rowIterator().map { row =>
          val w = if (ws >= 0) row.getLong(ws) else 0L
          Wire.PointItem(0L, "", Map.empty, w, Map.empty, w,
            nums.filterNot(row.isNullAt).map(k => names(k) -> row.get(k).asInstanceOf[Number].doubleValue),
            isAggregated = true)
        }.toVector
        QueryResult(items, items.size.toLong, "")
      case _ => QueryResult(Nil, 0L, "")
    } catch { case e: Exception => Left(e.toString) }
}
