package graft

import graft.model.FieldValue
import graft.nbql.NbqlExecutor
import graft.server.{GraftTcpServer, Wire}
import graft.nbql.PushsStatement
import graft.tsdb.TsdbEngine
import java.io.{DataInputStream, EOFException, IOException}
import java.net.Socket

/** Hostile-input tests for the framed TCP decoders — the surface the
  * reference fuzzes (`api/nbql/nbqlfuzz_test.go:16-126`, 6 targets). The
  * contract for EVERY input here: an error frame or a clean connection
  * close, never an uncaught server-side throw, never an allocation driven
  * by a claimed length beyond the bytes actually present (the
  * `Wire.scala` guards exist precisely for valid-CRC frames with hostile
  * INNER lengths, which the checksum cannot catch). After every hostile
  * connection the server must still serve a normal round-trip. */
class WireFuzzSpec extends SparkSpec {

  private def withTcp(f: (GraftTcpServer, Int) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzz").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    val ex = new NbqlExecutor(eng)
    val srv = new GraftTcpServer(ex, port = 0)
    srv.start()
    try f(srv, srv.boundPort)
    finally {
      srv.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  /** Send raw bytes, half-close, and drain whatever the server answers
    * until it closes (or 5 s). Returns the response bytes. */
  private def exchange(port: Int, bytes: Array[Byte]): Array[Byte] = {
    val sock = new Socket("127.0.0.1", port)
    sock.setSoTimeout(5000)
    try {
      sock.getOutputStream.write(bytes)
      sock.getOutputStream.flush()
      sock.shutdownOutput() // EOF to the server: a truncated frame must
      // surface as a decode failure now, not a blocked readFully
      val in = sock.getInputStream
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally sock.close()
  }

  /** The liveness probe: a fresh connection completes a full binary
    * PUSH → ack round-trip. Run after every hostile exchange. */
  private def assertServes(port: Int, ts: Long): Unit = {
    val sock = new Socket("127.0.0.1", port)
    sock.setSoTimeout(10000)
    try {
      val out = sock.getOutputStream
      Wire.writeFrame(out, Wire.CmdPush, Wire.encodePush(
        "fuzz.live", Map("h" -> "a"), ts, Map("v" -> FieldValue.ofDouble(1.0))))
      val ack = Wire.readFrame(new DataInputStream(sock.getInputStream))
      assert(ack.cmd == Wire.CmdManipulate, "server must keep serving")
      val a = new Wire.Reader(ack.payload)
      assert(a.readByte() == Wire.StatusOk && a.readLong() == 1L)
    } finally sock.close()
  }

  /** Frame bytes exactly as [[Wire.writeFrame]] emits them. */
  private def frameBytes(cmd: Byte, payload: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    Wire.writeFrame(bos, cmd, payload)
    bos.toByteArray
  }

  private def errorFrames(resp: Array[Byte]): Seq[Byte] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(resp))
    val cmds = Seq.newBuilder[Byte]
    try while (true) cmds += Wire.readFrame(in).cmd
    catch { case _: Exception => () }
    cmds.result()
  }

  test("valid-CRC frames with hostile inner lengths: clean close/error, server survives") {
    withTcp { (_, port) =>
      var ts = 1L
      // the exact case CRC cannot catch: a well-formed frame whose FIELDS
      // block claims 2 GB inside a payload of a few dozen bytes — the
      // readFields guard must refuse before allocating
      val hugeFieldBlock = Wire.withDOS { o =>
        Wire.writeString(o, "cpu"); Wire.writeTags(o, Map("h" -> "a"))
        o.writeLong(1000L)
        o.writeInt(Int.MaxValue) // claimed FieldValues byte-length
        o.write(Array[Byte](0, 1, 2, 3))
      }
      // a string VALUE inside a correctly-sized block claiming 2 GB
      val hugeStringValue = Wire.withDOS { o =>
        Wire.writeString(o, "cpu"); Wire.writeTags(o, Map.empty)
        o.writeLong(1000L)
        val block = Wire.withDOS { b =>
          b.writeShort(1); Wire.writeString(b, "s")
          b.writeByte(3); b.writeInt(Int.MaxValue) // string value length
          b.write("hi".getBytes("UTF-8"))
        }
        o.writeInt(block.length); o.write(block)
      }
      // negative block length (readInt yields < 0)
      val negFieldBlock = Wire.withDOS { o =>
        Wire.writeString(o, "cpu"); Wire.writeTags(o, Map.empty)
        o.writeLong(1000L); o.writeInt(-7)
      }
      // PUSHS claiming MaxValue points but carrying one
      val hugeBatch = Wire.withDOS { o =>
        o.writeInt(Int.MaxValue)
        o.write(Wire.encodePush("cpu", Map.empty, 1L,
          Map("v" -> FieldValue.ofDouble(1.0))))
      }
      // tag count 0xFFFF with two real tags; metric length past payload
      val hugeTagCount = Wire.withDOS { o =>
        Wire.writeString(o, "cpu"); o.writeShort(0xFFFF)
        Wire.writeString(o, "k"); Wire.writeString(o, "v")
      }
      val hugeMetricLen = Wire.withDOS { o => o.writeShort(0xFFFF); o.write("cpu".getBytes("UTF-8")) }
      val cases = Seq(
        Wire.CmdPush -> hugeFieldBlock, Wire.CmdPush -> hugeStringValue,
        Wire.CmdPush -> negFieldBlock, Wire.CmdPushs -> hugeBatch,
        Wire.CmdPush -> hugeTagCount, Wire.CmdPush -> hugeMetricLen)
      cases.foreach { case (cmd, payload) =>
        val resp = exchange(port, frameBytes(cmd, payload))
        // clean close (possibly after an error frame) — never a data row
        assert(errorFrames(resp).forall(_ == Wire.CmdError),
          "hostile frame must never yield data/ack frames")
        assertServes(port, ts); ts += 1
      }
      // negative batch count decodes as an EMPTY batch — an ack of 0 is
      // acceptable; the invariant is no throw and continued service
      val negBatch = exchange(port, frameBytes(Wire.CmdPushs,
        Wire.withDOS(o => o.writeInt(-3))))
      assert(errorFrames(negBatch).forall(c =>
        c == Wire.CmdError || c == Wire.CmdManipulate))
      assertServes(port, ts); ts += 1
      // unknown command with a VALID frame must answer a 400 error frame
      val unk = exchange(port, frameBytes(0x5A.toByte,
        Array[Byte](1, 2, 3)))
      assert(errorFrames(unk) == Seq(Wire.CmdError),
        "unknown command must produce exactly one error frame")
      assertServes(port, ts)
    }
  }

  test("truncation at every offset of a valid frame: clean close, server survives") {
    withTcp { (_, port) =>
      val full = frameBytes(Wire.CmdPush, Wire.encodePush(
        "cpu.load", Map("host" -> "h1", "dc" -> "ams"), 123456789L,
        Map("v" -> FieldValue.ofDouble(3.14), "s" -> FieldValue.ofString("x"),
          "b" -> FieldValue.ofBool(true), "n" -> FieldValue.NilValue)))
      (0 until full.length).foreach { k =>
        val resp = exchange(port, full.take(k))
        assert(resp.isEmpty || errorFrames(resp).forall(_ == Wire.CmdError),
          s"truncation at $k must close cleanly")
      }
      assertServes(port, 100L)
      // oversized/garbage header lengths: > 64 MiB cap and < 4 floor must
      // be refused BEFORE any body allocation
      Seq(64 * 1024 * 1024 + 1, 3, 0, Int.MinValue).foreach { len =>
        val hdr = Array[Byte](Wire.CmdPush,
          (len >>> 24).toByte, (len >>> 16).toByte, (len >>> 8).toByte, len.toByte)
        val resp = exchange(port, hdr ++ Array.fill[Byte](16)(0x41))
        assert(resp.isEmpty, s"hostile header length $len must close cleanly")
      }
      assertServes(port, 101L)
      // flipped CRC on an otherwise perfect frame
      val bad = full.clone(); bad(bad.length - 1) = (bad.last ^ 0xFF).toByte
      assert(exchange(port, bad).isEmpty, "CRC mismatch must close cleanly")
      assertServes(port, 102L)
    }
  }

  test("seeded byte soup never crashes the accept loop") {
    withTcp { (_, port) =>
      val rnd = new scala.util.Random(0xF00DL)
      (0 until 60).foreach { i =>
        val blob = Array.fill[Byte](1 + rnd.nextInt(300))(rnd.nextInt().toByte)
        val resp = exchange(port, blob)
        assert(errorFrames(resp).forall(_ == Wire.CmdError))
        if (i % 20 == 19) assertServes(port, 200L + i)
      }
      assertServes(port, 999L)
    }
  }

  test("decoder units refuse claimed lengths beyond the bytes present") {
    // readFields: the block-length guard (valid-CRC + hostile length is
    // unreachable by the checksum — this is the guard's only defense)
    val hostileBlock = Wire.withDOS { o => o.writeInt(Int.MaxValue); o.write(Array[Byte](1, 2)) }
    val e1 = intercept[IOException](new Wire.Reader(hostileBlock).readFields())
    assert(e1.getMessage.contains("bad field block length"))
    val negBlock = Wire.withDOS(o => o.writeInt(-1))
    val e2 = intercept[IOException](new Wire.Reader(negBlock).readFields())
    assert(e2.getMessage.contains("bad field block length"))
    // a hostile string-value length INSIDE a correctly-sized block
    val inner = Wire.withDOS { b =>
      b.writeShort(1); Wire.writeString(b, "k"); b.writeByte(3)
      b.writeInt(Int.MaxValue); b.write("xy".getBytes("UTF-8"))
    }
    val block = Wire.withDOS { o => o.writeInt(inner.length); o.write(inner) }
    val e3 = intercept[IOException](new Wire.Reader(block).readFields())
    assert(e3.getMessage.contains("bad string value length"))
    // readString / readTags on short input fail with EOF, never allocate
    // past the claimed 64 KiB cap (uint16 prefix bounds them by design)
    intercept[EOFException](new Wire.Reader(
      Wire.withDOS(o => o.writeShort(0xFFFF))).readString())
    intercept[EOFException](new Wire.Reader(
      Wire.withDOS { o => o.writeShort(0xFFFF); Wire.writeString(o, "k") }).readTags())
    // client-side part decoder: a hostile item count fails with EOF
    // instead of looping on allocations
    val hostileParts = Wire.withDOS { o =>
      o.writeByte(Wire.StatusDataRow); o.writeByte(0)
      Wire.writeString(o, ""); o.writeInt(Int.MaxValue); o.writeLong(1L)
    }
    intercept[EOFException](Wire.decodeQueryResultParts(hostileParts))
    // round-trip sanity: the guards must not reject LEGAL maximal shapes
    val legal = Wire.withDOS(o => Wire.writeFields(o,
      Map("s" -> FieldValue.ofString("x" * 70000))))
    val back = new Wire.Reader(legal).readFields()
    assert(back("s").s.exists(_.length == 70000))
  }

  /** The hostile FieldValues blocks of the decoder units case. */
  private val hostileBlocks: Seq[(Array[Byte], String)] = {
    val inner = Wire.withDOS { b =>
      b.writeShort(1); Wire.writeString(b, "k"); b.writeByte(3)
      b.writeInt(Int.MaxValue); b.write("xy".getBytes("UTF-8"))
    }
    Seq(
      Wire.withDOS { o => o.writeInt(Int.MaxValue); o.write(Array[Byte](1, 2)) } ->
        "bad field block length",
      Wire.withDOS(o => o.writeInt(-1)) -> "bad field block length",
      Wire.withDOS { o => o.writeInt(inner.length); o.write(inner) } ->
        "bad string value length")
  }

  private def decodePushs(payload: Array[Byte]): PushsStatement =
    GraftTcpServer.decodePushs(payload)

  test("cursor decoders refuse the hostile lengths inside a PUSHS point and a result part") {
    hostileBlocks.foreach { case (block, msg) =>
      val pushs = Wire.withDOS { o =>
        o.writeInt(1); Wire.writeString(o, "cpu"); Wire.writeTags(o, Map("h" -> "a"))
        o.writeLong(1000L); o.write(block)
      }
      val e1 = intercept[IOException](decodePushs(pushs))
      assert(e1.getMessage.contains(msg))
      val part = Wire.withDOS { o =>
        o.writeByte(Wire.StatusDataRow); o.writeByte(0); Wire.writeString(o, "")
        o.writeInt(1); o.writeLong(1L); Wire.writeString(o, "cpu")
        Wire.writeTags(o, Map.empty); o.writeLong(1000L); o.write(block)
      }
      val e2 = intercept[IOException](Wire.decodeQueryResultParts(part))
      assert(e2.getMessage.contains(msg))
    }
  }

  test("truncating a PUSHS payload or a result part at every offset throws only IO errors") {
    val fields = Map("v" -> FieldValue.ofDouble(3.14), "n" -> FieldValue.ofLong(-1L),
      "s" -> FieldValue.ofString("h\u00e9llo"), "b" -> FieldValue.ofBool(true),
      "z" -> FieldValue.NilValue)
    val pushs = Wire.build { b =>
      b.int32(3)
      Seq(1L, 2L, 3L).foreach(ts => Wire.writePush(b, "cpu.load",
        Map("host" -> "h1", "dc" -> "ams"), ts, fields))
    }
    val raw = Wire.encodeQueryResultPart(Wire.PointItem(5L, "cpu",
      Map("h" -> "a"), 9L, fields, 0L, Nil, isAggregated = false), "CUR")
    val agg = Wire.encodeQueryResultPart(Wire.PointItem(0L, "m", Map("h" -> "a"),
      9L, Map.empty, 9L, Seq("sum_v" -> 1.0, "count_v" -> 2.0), isAggregated = true))
    val cases: Seq[(Array[Byte], Array[Byte] => Any)] = Seq(
      pushs -> (p => decodePushs(p)), raw -> (p => Wire.decodeQueryResultParts(p)),
      agg -> (p => Wire.decodeQueryResultParts(p)))
    cases.foreach { case (payload, decode) =>
      decode(payload) // the whole payload decodes
      (0 until payload.length).foreach { k =>
        val r = scala.util.Try(decode(payload.take(k)))
        assert(r.isFailure, s"a payload cut at $k of ${payload.length} decoded")
        assert(r.failed.get.isInstanceOf[IOException],
          s"cut at $k threw ${r.failed.get}, not an IOException")
      }
    }
    assert(decodePushs(pushs).items.size == 3)
  }
}
