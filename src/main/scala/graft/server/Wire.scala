package graft.server

import graft.model.FieldValue
import java.io.{DataInputStream, DataOutputStream, ByteArrayOutputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** Binary wire codec for the framed TCP protocol, BYTE-COMPATIBLE with the
  * reference (`api/nbql/nbql.go:21-33,161-410,752-830`,
  * `server/tcppacket.go`): a client built against the reference server
  * speaks to [[GraftTcpServer]] unchanged.
  *
  * Frame layout (`nbql.go:752-779`):
  * `[type:1][length:4 BE][payload][crc32c:4 BE]` where `length` counts
  * payload + CRC and the CRC-32C (Castagnoli — JDK `CRC32C`) covers the
  * 5-byte header plus the payload.
  *
  * Strings are uint16-length-prefixed UTF-8; tag maps are uint16-count
  * prefixed (k,v) strings; field maps use the reference's `FieldValues`
  * encoding (`core/fields.go:63-101,200-228`): uint16 count, then per
  * field key-string, a 1-byte type tag (nil=0 float=1 int=2 string=3
  * bool=4) and the fixed/length-prefixed value bytes. */
object Wire {

  // command codes (`nbql.go:21-33`)
  val CmdPush: Byte = 0x01
  val CmdPushs: Byte = 0x02
  val CmdQuery: Byte = 0x10
  val CmdQueryResultPart: Byte = 0x11
  val CmdQueryEnd: Byte = 0x12
  val CmdManipulate: Byte = 0x20
  /** EXTENSION (not in the reference's TCP codes): live subscription over
    * the same framing — the reference serves Subscribe on gRPC only
    * (`server/grpc_server.go:455-491`); this carries the identical
    * PUT/DELETE update semantics on the byte-compatible transport.
    * Updates arrive as [[CmdQueryResultPart]] frames ([[FlagIsDelete]]
    * marks delete notifications). */
  val CmdSubscribe: Byte = 0x30
  val CmdError: Byte = 0xEE.toByte

  // response status bytes (`nbql.go:38-47`)
  val StatusOk: Byte = 0x00
  val StatusDataRow: Byte = 0x10
  val StatusDataEnd: Byte = 0x11

  // point-item flags (`nbql.go:50-56`)
  val FlagIsAggregated: Byte = 0x02
  /** Extension flag on subscription frames: this update is a DELETE
    * notification (`DataPointUpdate.UpdateType` in the reference proto);
    * the item's fields carry delete_kind / start_ns / end_ns. */
  val FlagIsDelete: Byte = 0x04

  final case class Frame(cmd: Byte, payload: Array[Byte])

  /** Writes one frame — header, payload and CRC — as ONE `write` of one
    * array, and does not flush: a message (a query's result parts plus
    * its QueryEnd, an ack, one commit's subscription frames) is flushed
    * once by the caller at its end, so a buffered stream sends a result
    * in buffer-sized writes instead of one socket write per row. */
  def writeFrame(out: OutputStream, cmd: Byte, payload: Array[Byte]): Unit = {
    val n = payload.length
    val len = n + 4 // CRC included in the on-wire length
    val frame = new Array[Byte](5 + len)
    frame(0) = cmd
    frame(1) = (len >>> 24).toByte; frame(2) = (len >>> 16).toByte
    frame(3) = (len >>> 8).toByte; frame(4) = len.toByte
    System.arraycopy(payload, 0, frame, 5, n)
    val crc = new java.util.zip.CRC32C
    crc.update(frame, 0, 5 + n)
    val c = crc.getValue.toInt
    frame(5 + n) = (c >>> 24).toByte; frame(6 + n) = (c >>> 16).toByte
    frame(7 + n) = (c >>> 8).toByte; frame(8 + n) = c.toByte
    out.write(frame)
  }

  /** Reads one frame, verifying the checksum (`nbql.go:798-830`). */
  def readFrame(in: DataInputStream): Frame = {
    val cmd = in.readByte()
    val len = in.readInt()
    if (len < 4 || len > 64 * 1024 * 1024) throw new EOFException(s"bad frame length $len")
    val body = new Array[Byte](len)
    in.readFully(body)
    val payload = java.util.Arrays.copyOfRange(body, 0, len - 4)
    val crc = new java.util.zip.CRC32C
    crc.update(Array(cmd, (len >>> 24).toByte, (len >>> 16).toByte, (len >>> 8).toByte, len.toByte))
    crc.update(payload)
    val got = java.nio.ByteBuffer.wrap(body, len - 4, 4).getInt
    if (got != crc.getValue.toInt) throw new java.io.IOException("frame checksum mismatch")
    Frame(cmd, payload)
  }

  // ---- primitive codecs --------------------------------------------------

  def writeString(o: DataOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8); o.writeShort(b.length); o.write(b)
  }
  def readString(i: DataInputStream): String = {
    val n = i.readUnsignedShort(); val b = new Array[Byte](n); i.readFully(b)
    new String(b, UTF_8)
  }

  def writeTags(o: DataOutputStream, tags: Map[String, String]): Unit = {
    o.writeShort(tags.size)
    tags.foreach { case (k, v) => writeString(o, k); writeString(o, v) }
  }
  def readTags(i: DataInputStream): Map[String, String] =
    (0 until i.readUnsignedShort()).map(_ => readString(i) -> readString(i)).toMap

  /** `core/fields.go` FieldValues block (uint32 byte-length prefixed at the
    * call sites that embed it, `nbql.go:214-228`). */
  def writeFields(o: DataOutputStream, fields: Map[String, FieldValue]): Unit = {
    val bos = new ByteArrayOutputStream()
    val fo = new DataOutputStream(bos)
    fo.writeShort(fields.size)
    fields.foreach { case (k, v) =>
      writeString(fo, k)
      v match {
        case FieldValue(Some(d), _, _, _) => fo.writeByte(1); fo.writeDouble(d)
        case FieldValue(_, Some(l), _, _) => fo.writeByte(2); fo.writeLong(l)
        case FieldValue(_, _, Some(s), _) =>
          fo.writeByte(3); val b = s.getBytes(UTF_8); fo.writeInt(b.length); fo.write(b)
        case FieldValue(_, _, _, Some(b)) => fo.writeByte(4); fo.writeByte(if (b) 1 else 0)
        case _ => fo.writeByte(0)
      }
    }
    val enc = bos.toByteArray
    o.writeInt(enc.length); o.write(enc)
  }

  def readFields(i: DataInputStream): Map[String, FieldValue] = {
    val blockLen = i.readInt()
    // length sanity BEFORE allocation: a hostile frame can claim a
    // 2 GB block inside a 100-byte payload — the allocation must be
    // bounded by the bytes actually present (the reference's decoders
    // are fuzzed for exactly this, `api/nbql/nbqlfuzz_test.go`).
    // PRECONDITION: `i` must wrap an already-read in-memory buffer
    // ([[dis]] over a frame payload — every call site does), where
    // available() is EXACTLY the remaining bytes; over a socket stream
    // available() is only "readable without blocking" and this guard
    // would spuriously reject. readFrame materializes the whole frame
    // first, so no socket-backed stream ever reaches the payload codecs.
    if (blockLen < 0 || blockLen > i.available())
      throw new java.io.IOException(s"bad field block length $blockLen")
    val block = new Array[Byte](blockLen); i.readFully(block)
    val bi = new DataInputStream(new java.io.ByteArrayInputStream(block))
    (0 until bi.readUnsignedShort()).map { _ =>
      val k = readString(bi)
      val v = bi.readByte() match {
        case 1 => FieldValue.ofDouble(bi.readDouble())
        case 2 => FieldValue.ofLong(bi.readLong())
        case 3 =>
          val n = bi.readInt()
          if (n < 0 || n > bi.available())
            throw new java.io.IOException(s"bad string value length $n")
          val b = new Array[Byte](n); bi.readFully(b)
          FieldValue.ofString(new String(b, UTF_8))
        case 4 => FieldValue.ofBool(bi.readByte() != 0)
        case _ => FieldValue.NilValue
      }
      k -> v
    }.toMap
  }

  // ---- payload builders used by server + spec-side client ----------------

  def withDOS(f: DataOutputStream => Unit): Array[Byte] = {
    val bos = new ByteArrayOutputStream(); val o = new DataOutputStream(bos)
    f(o); o.flush(); bos.toByteArray
  }
  def dis(payload: Array[Byte]): DataInputStream =
    new DataInputStream(new java.io.ByteArrayInputStream(payload))

  /** PUSH payload: metric, tags, ts:int64, fields (`nbql.go:290-319`). */
  def encodePush(metric: String, tags: Map[String, String], ts: Long,
      fields: Map[String, FieldValue]): Array[Byte] = withDOS { o =>
    writeString(o, metric); writeTags(o, tags); o.writeLong(ts)
    writeFields(o, fields)
  }

  /** `[status:1][rowsAffected:8][nSeq:2][seq:8×n]` (`nbql.go:359-381`). */
  def encodeManipulateResponse(rowsAffected: Long, seqIds: Seq[Long]): Array[Byte] =
    withDOS { o =>
      o.writeByte(StatusOk); o.writeLong(rowsAffected)
      o.writeShort(seqIds.size); seqIds.foreach(o.writeLong)
    }

  /** `[code:2][message]` (`nbql.go:402-410`). */
  def encodeError(code: Int, message: String): Array[Byte] = withDOS { o =>
    o.writeShort(code); writeString(o, message)
  }

  /** `[status:1][totalRows:8][message]` (`nbql.go:388-399`). */
  def encodeQueryEnd(totalRows: Long): Array[Byte] = withDOS { o =>
    o.writeByte(StatusDataEnd); o.writeLong(totalRows); writeString(o, "")
  }

  /** One result row as the reference's single-item QueryResponse
    * (`nbql.go:137-143,232-287`; the server streams one item per
    * QueryResultPart frame, `tcp_connection_handler.go:245-262`). */
  final case class PointItem(seq: Long, metric: String,
      tags: Map[String, String], timestamp: Long,
      fields: Map[String, FieldValue], windowStart: Long,
      aggregated: Seq[(String, Double)], isAggregated: Boolean)

  /** SUBSCRIBE payload: metric pattern + tag patterns (trailing-`*`
    * rules, `PubSub.patternMatch`). */
  def encodeSubscribe(metric: String, tags: Map[String, String]): Array[Byte] =
    withDOS { o => writeString(o, metric); writeTags(o, tags) }

  def encodeQueryResultPart(item: PointItem, nextCursor: String = "",
      extraFlags: Byte = 0): Array[Byte] =
    withDOS { o =>
      o.writeByte(StatusDataRow)
      o.writeByte(((if (item.isAggregated) FlagIsAggregated else 0) | extraFlags).toByte)
      writeString(o, nextCursor)
      o.writeInt(1) // one point per frame, like the reference
      o.writeLong(item.seq)
      writeString(o, item.metric)
      writeTags(o, item.tags)
      o.writeLong(item.timestamp)
      if (item.isAggregated) {
        o.writeLong(item.windowStart)
        o.writeShort(item.aggregated.size)
        item.aggregated.foreach { case (k, v) => writeString(o, k); o.writeDouble(v) }
      } else writeFields(o, item.fields)
    }

  def decodeQueryResultParts(payload: Array[Byte]): (Seq[PointItem], String) = {
    val i = dis(payload)
    val _status = i.readByte()
    val flags = i.readByte()
    val cursor = readString(i)
    val n = i.readInt()
    val agg = (flags & FlagIsAggregated) != 0
    val items = (0 until n).map { _ =>
      val seq = i.readLong()
      val metric = readString(i)
      val tags = readTags(i)
      val ts = i.readLong()
      if (agg) {
        val ws = i.readLong()
        val vals = (0 until i.readUnsignedShort()).map(_ => readString(i) -> i.readDouble())
        PointItem(seq, metric, tags, ts, Map.empty, ws, vals, isAggregated = true)
      } else
        PointItem(seq, metric, tags, ts, readFields(i), 0L, Nil, isAggregated = false)
    }
    (items, cursor)
  }

  def decodeQueryResultPart(payload: Array[Byte]): (PointItem, String) = {
    val (items, cursor) = decodeQueryResultParts(payload)
    (items.head, cursor)
  }

  // ---- auth handshake packets (`server/tcppacket.go`) ---------------------

  val AuthRequestOp: Byte = 1
  val AuthResponseOp: Byte = 100
  val AuthOk: Byte = 1
  val AuthError: Byte = 2

  /** `[version:1][op:1][len:2][payload]` — request payload is two
    * uint16-prefixed strings (username, password). */
  def encodeAuthRequest(username: String, password: String): Array[Byte] = {
    val payload = withDOS { o => writeString(o, username); writeString(o, password) }
    withDOS { o =>
      o.writeByte(1); o.writeByte(AuthRequestOp)
      o.writeShort(payload.length); o.write(payload)
    }
  }

  def encodeAuthResponse(ok: Boolean, message: String): Array[Byte] = {
    val payload = withDOS { o =>
      o.writeByte(if (ok) AuthOk else AuthError); writeString(o, message)
    }
    withDOS { o =>
      o.writeByte(1); o.writeByte(AuthResponseOp)
      o.writeShort(payload.length); o.write(payload)
    }
  }
}
