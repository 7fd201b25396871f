package graft.server

import graft.model.FieldValue
import java.io.{DataInputStream, DataOutputStream, EOFException, IOException, OutputStream}
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
  * bool=4) and the fixed/length-prefixed value bytes.
  *
  * Frames are built IN PLACE: one [[FrameBuilder]] per message writes
  * each frame's payload straight into its array behind a reserved header,
  * back-patches the lengths, appends the CRC and hands the frame to the
  * stream in one `write` — no per-row streams, maps or payload copies.
  * Frames are read the same way: [[readFrame]] reads the payload into
  * one exact-size array and a bounds-checked [[Reader]] decodes it where
  * it lies. These two are the only encoder and decoder; the
  * `DataOutputStream` helpers ([[withDOS]], [[writeString]],
  * [[writeTags]], [[writeFields]]) wrap the builder. */
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

  /** A growable byte array that frames and payloads are encoded into in
    * place, with one reused CRC-32C. [[frame]] reserves a frame's 5-byte
    * header; the payload is written straight behind it; [[send]] patches
    * the length, appends the CRC and writes the frame with ONE `write`,
    * unflushed, leaving the builder empty for the message's next frame.
    * Without [[frame]] it builds a bare payload ([[toByteArray]]). As an
    * `OutputStream` it backs [[withDOS]]. Not thread-safe: one per
    * message. */
  final class FrameBuilder(initialCapacity: Int = 256) extends OutputStream {
    private var buf = new Array[Byte](math.max(16, initialCapacity))
    private var pos = 0
    private val crc = new java.util.zip.CRC32C

    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, pos)

    private def ensure(n: Int): Unit =
      if (buf.length - pos < n)
        buf = java.util.Arrays.copyOf(buf, math.max(pos + n,
          math.min(Int.MaxValue - 8L, 2L * buf.length).toInt))

    private def putInt(at: Int, v: Int): Unit = {
      buf(at) = (v >>> 24).toByte; buf(at + 1) = (v >>> 16).toByte
      buf(at + 2) = (v >>> 8).toByte; buf(at + 3) = v.toByte
    }

    /** Starts a frame of type `cmd`, discarding anything not yet sent. */
    def frame(cmd: Byte): this.type = {
      pos = 0; ensure(5); buf(0) = cmd; pos = 5; this
    }

    /** Ends the frame [[frame]] started: length and CRC-32C go in place,
      * then one `write` of the whole frame, no flush. */
    def send(out: OutputStream): Unit = {
      putInt(1, pos - 5 + 4) // the on-wire length counts the CRC
      crc.reset(); crc.update(buf, 0, pos)
      int32(crc.getValue.toInt)
      out.write(buf, 0, pos)
      pos = 0
    }

    // ---- primitives, big-endian as DataOutputStream writes them --------

    def int8(v: Int): this.type = { ensure(1); buf(pos) = v.toByte; pos += 1; this }
    def int16(v: Int): this.type = {
      ensure(2); buf(pos) = (v >>> 8).toByte; buf(pos + 1) = v.toByte; pos += 2; this
    }
    def int32(v: Int): this.type = { ensure(4); putInt(pos, v); pos += 4; this }
    def int64(v: Long): this.type = {
      ensure(8); putInt(pos, (v >>> 32).toInt); putInt(pos + 4, v.toInt); pos += 8; this
    }
    def float64(d: Double): this.type = int64(java.lang.Double.doubleToLongBits(d))
    def bytes(b: Array[Byte], off: Int, len: Int): this.type = {
      ensure(len); System.arraycopy(b, off, buf, pos, len); pos += len; this
    }
    override def write(b: Int): Unit = { int8(b); () }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = { bytes(b, off, len); () }

    /** uint16-length-prefixed UTF-8. */
    def string(s: String): this.type = text(s, prefix = 2)

    /** UTF-8 behind a `prefix`-byte length (2 or 4). ASCII is copied
      * char by char; anything else re-encodes through `getBytes`. */
    private def text(s: String, prefix: Int): this.type = {
      val n = s.length
      ensure(prefix + n)
      val at = pos + prefix
      var i = 0
      var ascii = true
      while (ascii && i < n) {
        val c = s.charAt(i)
        if (c < 0x80) { buf(at + i) = c.toByte; i += 1 } else ascii = false
      }
      if (ascii) { if (prefix == 2) int16(n) else int32(n); pos += n }
      else {
        val b = s.getBytes(UTF_8)
        if (prefix == 2) int16(b.length) else int32(b.length)
        bytes(b, 0, b.length)
      }
      this
    }

    def tags(m: scala.collection.Map[String, String]): this.type = {
      int16(m.size); m.foreachEntry { (k, v) => string(k); string(v) }; this
    }

    /** Reserves a uint32 block length; [[endBlock]] patches it. */
    def beginBlock(): Int = { ensure(4); pos += 4; pos - 4 }
    def endBlock(mark: Int): this.type = { putInt(mark, pos - mark - 4); this }

    /** `core/fields.go` FieldValues block behind its uint32 byte length
      * (`nbql.go:214-228`); a null map writes an empty block. */
    def fields(m: scala.collection.Map[String, FieldValue]): this.type = {
      val mark = beginBlock()
      if (m == null) int16(0)
      else { int16(m.size); m.foreachEntry { (k, v) => string(k); value(v) } }
      endBlock(mark)
    }

    /** One field value: type tag, then its bytes (a null value is nil). */
    def value(v: FieldValue): this.type = v match {
      case FieldValue(Some(d), _, _, _) => doubleValue(d)
      case FieldValue(_, Some(l), _, _) => longValue(l)
      case FieldValue(_, _, Some(s), _) => stringValue(s)
      case FieldValue(_, _, _, Some(b)) => boolValue(b)
      case _ => nilValue()
    }
    def nilValue(): this.type = int8(0)
    def doubleValue(d: Double): this.type = int8(1).float64(d)
    def longValue(l: Long): this.type = int8(2).int64(l)
    def stringValue(s: String): this.type = int8(3).text(s, prefix = 4)
    def boolValue(b: Boolean): this.type = int8(4).int8(if (b) 1 else 0)
  }

  /** A bounds-checked cursor over a received payload: every read checks
    * the bytes left, so a short payload throws `EOFException` and a
    * claimed length beyond the bytes present is refused before anything
    * is allocated for it. Strings decode straight from the payload. */
  final class Reader(buf: Array[Byte]) {
    private var pos = 0
    private var end = buf.length // the enclosing field block's end while in one

    private def remaining: Int = end - pos

    /** Claims the next `n` bytes; returns their offset. */
    private def take(n: Int): Int = {
      if (n < 0 || end - pos < n) throw new EOFException(s"need $n bytes, have ${end - pos}")
      pos += n; pos - n
    }
    private def intAt(at: Int): Int =
      (buf(at) & 0xFF) << 24 | (buf(at + 1) & 0xFF) << 16 |
        (buf(at + 2) & 0xFF) << 8 | (buf(at + 3) & 0xFF)

    def readByte(): Byte = buf(take(1))
    def readUnsignedShort(): Int = { val at = take(2); (buf(at) & 0xFF) << 8 | (buf(at + 1) & 0xFF) }
    def readShort(): Short = readUnsignedShort().toShort
    def readInt(): Int = intAt(take(4))
    def readLong(): Long = { val at = take(8); intAt(at).toLong << 32 | (intAt(at + 4) & 0xFFFFFFFFL) }
    def readDouble(): Double = java.lang.Double.longBitsToDouble(readLong())

    def readString(): String = {
      val n = readUnsignedShort(); new String(buf, take(n), n, UTF_8)
    }

    def readTags(): Map[String, String] = {
      val n = readUnsignedShort()
      if (n == 0) Map.empty
      else {
        val m = Map.newBuilder[String, String]
        var k = 0
        while (k < n) { m += readString() -> readString(); k += 1 }
        m.result()
      }
    }

    /** A FieldValues block: uint32 byte length, then the block. The
      * length is checked against the bytes present BEFORE the block is
      * read — a hostile frame can claim a 2 GB block inside a 100-byte
      * payload (the reference's decoders are fuzzed for exactly this,
      * `api/nbql/nbqlfuzz_test.go`) — and the block's entries read only
      * inside it. */
    def readFields(): Map[String, FieldValue] = {
      val blockLen = readInt()
      if (blockLen < 0 || blockLen > remaining)
        throw new IOException(s"bad field block length $blockLen")
      val blockEnd = pos + blockLen
      val outer = end
      end = blockEnd
      val m = Map.newBuilder[String, FieldValue]
      try {
        val n = readUnsignedShort()
        var k = 0
        while (k < n) {
          val key = readString()
          val v = readByte() match {
            case 1 => FieldValue.ofDouble(readDouble())
            case 2 => FieldValue.ofLong(readLong())
            case 3 =>
              val len = readInt()
              if (len < 0 || len > remaining)
                throw new IOException(s"bad string value length $len")
              FieldValue.ofString(new String(buf, take(len), len, UTF_8))
            case 4 => FieldValue.ofBool(readByte() != 0)
            case _ => FieldValue.NilValue
          }
          m += key -> v
          k += 1
        }
      } finally end = outer
      pos = blockEnd
      m.result()
    }
  }

  /** Writes one frame — header, payload and CRC — as ONE `write` of one
    * array, and does not flush: a message (a query's result parts plus
    * its QueryEnd, an ack, one commit's subscription frames) is flushed
    * once by the caller at its end, so a buffered stream sends a result
    * in buffer-sized writes instead of one socket write per row. */
  def writeFrame(out: OutputStream, cmd: Byte, payload: Array[Byte]): Unit =
    new FrameBuilder(payload.length + 9).frame(cmd)
      .bytes(payload, 0, payload.length).send(out)

  /** Reads one frame into an exact-size payload array, verifying the
    * checksum (`nbql.go:798-830`). */
  def readFrame(in: DataInputStream): Frame = {
    val cmd = in.readByte()
    val len = in.readInt()
    if (len < 4 || len > 64 * 1024 * 1024) throw new EOFException(s"bad frame length $len")
    val payload = new Array[Byte](len - 4)
    in.readFully(payload)
    val got = in.readInt()
    val crc = new java.util.zip.CRC32C
    crc.update(cmd.toInt); crc.update(len >>> 24); crc.update(len >>> 16)
    crc.update(len >>> 8); crc.update(len)
    crc.update(payload)
    if (got != crc.getValue.toInt) throw new IOException("frame checksum mismatch")
    Frame(cmd, payload)
  }

  // ---- DataOutputStream helpers, over the builder --------------------------

  /** A bare payload encoded by `f` on a fresh builder. */
  def build(f: FrameBuilder => Any): Array[Byte] = {
    val b = new FrameBuilder(); f(b); b.toByteArray
  }

  def withDOS(f: DataOutputStream => Unit): Array[Byte] = {
    val b = new FrameBuilder(); val o = new DataOutputStream(b)
    f(o); o.flush(); b.toByteArray
  }

  def writeString(o: DataOutputStream, s: String): Unit = o.write(build(_.string(s)))
  def writeTags(o: DataOutputStream, tags: Map[String, String]): Unit =
    o.write(build(_.tags(tags)))
  /** `core/fields.go` FieldValues block, uint32 byte-length prefixed
    * (`nbql.go:214-228`). */
  def writeFields(o: DataOutputStream, fields: Map[String, FieldValue]): Unit =
    o.write(build(_.fields(fields)))

  // ---- payloads ------------------------------------------------------------

  /** PUSH payload: metric, tags, ts:int64, fields (`nbql.go:290-319`). */
  def encodePush(metric: String, tags: Map[String, String], ts: Long,
      fields: Map[String, FieldValue]): Array[Byte] =
    build(writePush(_, metric, tags, ts, fields))

  /** One point as PUSH carries it and PUSHS repeats it. */
  def writePush(b: FrameBuilder, metric: String, tags: Map[String, String],
      ts: Long, fields: Map[String, FieldValue]): FrameBuilder =
    b.string(metric).tags(tags).int64(ts).fields(fields)

  /** `[status:1][rowsAffected:8][nSeq:2][seq:8×n]` (`nbql.go:359-381`). */
  def encodeManipulateResponse(rowsAffected: Long, seqIds: Seq[Long]): Array[Byte] =
    build { b =>
      b.int8(StatusOk).int64(rowsAffected).int16(seqIds.size)
      seqIds.foreach(b.int64)
    }

  /** `[code:2][message]` (`nbql.go:402-410`). */
  def encodeError(code: Int, message: String): Array[Byte] =
    build(_.int16(code).string(message))

  /** `[status:1][totalRows:8][message]` (`nbql.go:388-399`). */
  def encodeQueryEnd(totalRows: Long): Array[Byte] =
    build(_.int8(StatusDataEnd).int64(totalRows).string(""))

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
    build(_.string(metric).tags(tags))

  /** A QueryResultPart payload's head: status, flags, cursor and the
    * item count (1 — one point per frame, like the reference). */
  def writePartHead(b: FrameBuilder, flags: Int, cursor: String,
      items: Int = 1): FrameBuilder =
    b.int8(StatusDataRow).int8(flags).string(cursor).int32(items)

  /** A one-item QueryResultPart payload carrying a raw point. */
  def writeRawPart(b: FrameBuilder, seq: Long, metric: String,
      tags: scala.collection.Map[String, String], timestamp: Long,
      fields: scala.collection.Map[String, FieldValue],
      extraFlags: Byte = 0): FrameBuilder =
    writePartHead(b, extraFlags, "").int64(seq).string(metric).tags(tags)
      .int64(timestamp).fields(fields)

  def writeQueryResultPart(b: FrameBuilder, item: PointItem,
      nextCursor: String = "", extraFlags: Byte = 0): FrameBuilder = {
    writePartHead(b,
      (if (item.isAggregated) FlagIsAggregated else 0) | extraFlags, nextCursor)
    b.int64(item.seq).string(item.metric).tags(item.tags).int64(item.timestamp)
    if (item.isAggregated) {
      b.int64(item.windowStart).int16(item.aggregated.size)
      item.aggregated.foreach { case (k, v) => b.string(k).float64(v) }
      b
    } else b.fields(item.fields)
  }

  def encodeQueryResultPart(item: PointItem, nextCursor: String = "",
      extraFlags: Byte = 0): Array[Byte] =
    build(writeQueryResultPart(_, item, nextCursor, extraFlags))

  def decodeQueryResultParts(payload: Array[Byte]): (Seq[PointItem], String) = {
    val i = new Reader(payload)
    val _status = i.readByte()
    val flags = i.readByte()
    val cursor = i.readString()
    val n = i.readInt()
    val agg = (flags & FlagIsAggregated) != 0
    val items = List.newBuilder[PointItem]
    var k = 0
    while (k < n) {
      val seq = i.readLong()
      val metric = i.readString()
      val tags = i.readTags()
      val ts = i.readLong()
      items += (if (agg) {
        val ws = i.readLong()
        val vals = List.newBuilder[(String, Double)]
        var a = i.readUnsignedShort()
        while (a > 0) { vals += i.readString() -> i.readDouble(); a -= 1 }
        PointItem(seq, metric, tags, ts, Map.empty, ws, vals.result(), isAggregated = true)
      } else
        PointItem(seq, metric, tags, ts, i.readFields(), 0L, Nil, isAggregated = false))
      k += 1
    }
    (items.result(), cursor)
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
  def encodeAuthRequest(username: String, password: String): Array[Byte] =
    authPacket(AuthRequestOp, build(_.string(username).string(password)))

  def encodeAuthResponse(ok: Boolean, message: String): Array[Byte] =
    authPacket(AuthResponseOp,
      build(_.int8(if (ok) AuthOk else AuthError).string(message)))

  private def authPacket(op: Byte, payload: Array[Byte]): Array[Byte] =
    build(_.int8(1).int8(op).int16(payload.length).bytes(payload, 0, payload.length))
}
