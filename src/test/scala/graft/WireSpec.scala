package graft

import graft.model.{DataPoint, FieldValue}
import graft.server.{GraftTcpServer, Wire}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** Property tests for the binary wire codec: arbitrary frames and typed
  * field maps survive an encode→decode round-trip, and corrupted frames
  * are rejected by the CRC — the invariants that make the protocol safe
  * to speak with the reference's own clients. */
class WireSpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  private val genString = Gen.alphaNumStr.map(_.take(100))
  private val genField: Gen[FieldValue] = Gen.oneOf(
    Gen.chooseNum(-1e9, 1e9).map(FieldValue.ofDouble),
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(FieldValue.ofLong),
    genString.map(FieldValue.ofString),
    Gen.oneOf(true, false).map(FieldValue.ofBool),
    Gen.const(FieldValue.NilValue))
  private val genFields = Gen.mapOf(Gen.zip(Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(32)), genField))
  private val genTags = Gen.mapOf(Gen.zip(genString.suchThat(_.nonEmpty), genString))

  test("PUSH payload round-trips every field type") {
    check(Prop.forAllNoShrink(genString.suchThat(_.nonEmpty), genTags,
      Gen.long, genFields) { (metric, tags, ts, fields) =>
      val i = new Wire.Reader(Wire.encodePush(metric, tags, ts, fields))
      i.readString() == metric && i.readTags() == tags &&
        i.readLong() == ts && i.readFields() == fields
    })
  }

  test("frames round-trip and a flipped byte is rejected by CRC-32C") {
    check(Prop.forAllNoShrink(Gen.chooseNum(0, 255),
      Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))) { (cmd, payload) =>
      val bos = new java.io.ByteArrayOutputStream()
      Wire.writeFrame(bos, cmd.toByte, payload.toArray)
      val bytes = bos.toByteArray
      val frame = Wire.readFrame(new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      val ok = frame.cmd == cmd.toByte && frame.payload.toSeq == payload
      val corrupted = payload.isEmpty || {
        val corrupt = bytes.clone()
        corrupt(5) = (corrupt(5) ^ 0x40).toByte // flip a payload bit
        scala.util.Try(Wire.readFrame(new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(corrupt)))).isFailure
      }
      ok && corrupted
    })
  }

  test("writeFrame: one write per frame, no flush, bytes as before") {
    final class Counting extends java.io.OutputStream {
      val bytes = new java.io.ByteArrayOutputStream()
      var writes = 0; var flushes = 0
      override def write(b: Int): Unit = { writes += 1; bytes.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        writes += 1; bytes.write(b, off, len)
      }
      override def flush(): Unit = flushes += 1
    }
    val item = Wire.PointItem(7L, "cpu", Map("h" -> "a"), 123L,
      Map("v" -> FieldValue.ofDouble(1.5)), 0L, Nil, isAggregated = false)
    val frames = Seq(Wire.CmdQueryResultPart -> Wire.encodeQueryResultPart(item),
      Wire.CmdQueryResultPart -> Wire.encodeQueryResultPart(item.copy(seq = 8L)),
      Wire.CmdQueryEnd -> Wire.encodeQueryEnd(2L),
      Wire.CmdManipulate -> Array.emptyByteArray)
    val out = new Counting
    frames.foreach { case (cmd, payload) => Wire.writeFrame(out, cmd, payload) }
    assert(out.writes == frames.size && out.flushes == 0)
    // the layout spelled out: [type][length BE = payload + 4][payload][crc32c BE]
    val want = new java.io.ByteArrayOutputStream()
    frames.foreach { case (cmd, payload) =>
      val len = payload.length + 4
      val header = Array(cmd, (len >>> 24).toByte, (len >>> 16).toByte,
        (len >>> 8).toByte, len.toByte)
      val crc = new java.util.zip.CRC32C
      crc.update(header); crc.update(payload)
      val c = crc.getValue.toInt
      want.write(header); want.write(payload)
      want.write(Array((c >>> 24).toByte, (c >>> 16).toByte, (c >>> 8).toByte, c.toByte))
    }
    assert(out.bytes.toByteArray.toSeq == want.toByteArray.toSeq)
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(out.bytes.toByteArray))
    val read = frames.map(_ => Wire.readFrame(in))
    assert(read.map(_.cmd) == frames.map(_._1))
    assert(Wire.decodeQueryResultPart(read(1).payload)._1 == item.copy(seq = 8L))
  }

  test("query result part round-trips raw and aggregated items") {
    val raw = Wire.PointItem(7L, "cpu", Map("h" -> "a"), 123L,
      Map("v" -> FieldValue.ofDouble(1.5), "s" -> FieldValue.ofString("x")),
      0L, Nil, isAggregated = false)
    val (d1, c1) = Wire.decodeQueryResultPart(Wire.encodeQueryResultPart(raw, "CUR"))
    assert(d1 == raw && c1 == "CUR")

    val agg = Wire.PointItem(0L, "m", Map.empty, 1000L, Map.empty,
      1000L, Seq("sum_v" -> 42.0, "count_v" -> 3.0), isAggregated = true)
    val (d2, _) = Wire.decodeQueryResultPart(Wire.encodeQueryResultPart(agg))
    assert(d2 == agg)
  }

  /** The payload layouts spelled out on a plain `DataOutputStream`,
    * apart from the codec: what every frame must still carry. */
  private object Spelled {
    def dos(f: DataOutputStream => Unit): Array[Byte] = {
      val bos = new ByteArrayOutputStream(); val o = new DataOutputStream(bos)
      f(o); o.flush(); bos.toByteArray
    }
    def str(o: DataOutputStream, s: String): Unit = {
      val b = s.getBytes(UTF_8); o.writeShort(b.length); o.write(b)
    }
    def tags(o: DataOutputStream, m: Map[String, String]): Unit = {
      o.writeShort(m.size); m.foreach { case (k, v) => str(o, k); str(o, v) }
    }
    def fields(o: DataOutputStream, m: Map[String, FieldValue]): Unit = {
      val block = dos { f =>
        f.writeShort(m.size)
        m.foreach { case (k, v) =>
          str(f, k)
          v match {
            case FieldValue(Some(d), _, _, _) => f.writeByte(1); f.writeDouble(d)
            case FieldValue(_, Some(l), _, _) => f.writeByte(2); f.writeLong(l)
            case FieldValue(_, _, Some(s), _) =>
              val b = s.getBytes(UTF_8); f.writeByte(3); f.writeInt(b.length); f.write(b)
            case FieldValue(_, _, _, Some(b)) => f.writeByte(4); f.writeByte(if (b) 1 else 0)
            case _ => f.writeByte(0)
          }
        }
      }
      o.writeInt(block.length); o.write(block)
    }
    def part(item: Wire.PointItem, cursor: String, flags: Int): Array[Byte] = dos { o =>
      o.writeByte(Wire.StatusDataRow)
      o.writeByte((if (item.isAggregated) Wire.FlagIsAggregated else 0) | flags)
      str(o, cursor); o.writeInt(1)
      o.writeLong(item.seq); str(o, item.metric); tags(o, item.tags)
      o.writeLong(item.timestamp)
      if (item.isAggregated) {
        o.writeLong(item.windowStart); o.writeShort(item.aggregated.size)
        item.aggregated.foreach { case (k, v) => str(o, k); o.writeDouble(v) }
      } else fields(o, item.fields)
    }
    /** `[type][length BE = payload + 4][payload][crc32c BE]` */
    def frame(cmd: Byte, payload: Array[Byte]): Array[Byte] = dos { o =>
      val len = payload.length + 4
      val header = Array(cmd, (len >>> 24).toByte, (len >>> 16).toByte,
        (len >>> 8).toByte, len.toByte)
      val crc = new java.util.zip.CRC32C
      crc.update(header); crc.update(payload)
      o.write(header); o.write(payload); o.writeInt(crc.getValue.toInt)
    }
  }

  private val everyValue = Map(
    "nil" -> FieldValue.NilValue, "d" -> FieldValue.ofDouble(1.5),
    "nan" -> FieldValue.ofDouble(Double.NaN), "negzero" -> FieldValue.ofDouble(-0.0),
    "l" -> FieldValue.ofLong(Long.MinValue), "s" -> FieldValue.ofString("x"),
    "s\u00e9" -> FieldValue.ofString("h\u00e9llo \u2713 \ud83d\ude00"),
    "late" -> FieldValue.ofString("a" * 300 + "\u00fc"),
    "t" -> FieldValue.ofBool(true), "f" -> FieldValue.ofBool(false))

  test("frame builder: the spelled-out bytes for every value type, string and item shape") {
    def raw(metric: String, tags: Map[String, String], fields: Map[String, FieldValue]) =
      Wire.PointItem(7L, metric, tags, -123L, fields, 0L, Nil, isAggregated = false)
    val items = Seq(
      (raw("cpu", Map("h" -> "a"), everyValue), "", 0),
      (raw("m\u00e9trique.\u6e29\u5ea6", Map("h\u00f4te" -> "\u00f11", "dc" -> "ams"),
        Map("v" -> FieldValue.ofDouble(2.0))), "CUR\u2713", 0),
      (raw("empty", Map.empty, Map.empty), "", 0),
      (raw("cpu", Map("h" -> "a"), Map("delete_kind" -> FieldValue.ofString("series"),
        "start_ns" -> FieldValue.ofLong(1L), "end_ns" -> FieldValue.ofLong(2L))),
        "", Wire.FlagIsDelete.toInt),
      (Wire.PointItem(0L, "m", Map("h" -> "a"), 1000L, Map.empty, 1000L,
        Seq("sum_v" -> 42.0, "nan" -> Double.NaN, "z" -> -0.0), isAggregated = true), "", 0))
    val b = new Wire.FrameBuilder(16) // grows; reused frame after frame
    items.foreach { case (item, cursor, flags) =>
      val out = new ByteArrayOutputStream()
      Wire.writeQueryResultPart(b.frame(Wire.CmdQueryResultPart), item, cursor,
        flags.toByte).send(out)
      assert(out.toByteArray.toSeq ==
        Spelled.frame(Wire.CmdQueryResultPart, Spelled.part(item, cursor, flags)).toSeq,
        s"frame bytes differ for $item")
      assert(Wire.encodeQueryResultPart(item, cursor, flags.toByte).toSeq ==
        Spelled.part(item, cursor, flags).toSeq)
    }
    // a PUSHS frame, and the same points through the DataOutputStream helpers
    val points = Seq(("cpu", Map("h" -> "a"), 1L, everyValue),
      ("\u6e29", Map.empty[String, String], Long.MaxValue, Map.empty[String, FieldValue]))
    val out = new ByteArrayOutputStream()
    val pushs = b.frame(Wire.CmdPushs).int32(points.size)
    points.foreach { case (m, t, ts, f) => Wire.writePush(pushs, m, t, ts, f) }
    pushs.send(out)
    val spelled = Spelled.dos { o =>
      o.writeInt(points.size)
      points.foreach { case (m, t, ts, f) =>
        Spelled.str(o, m); Spelled.tags(o, t); o.writeLong(ts); Spelled.fields(o, f) }
    }
    assert(out.toByteArray.toSeq == Spelled.frame(Wire.CmdPushs, spelled).toSeq)
    assert(Wire.withDOS { o =>
      o.writeInt(points.size)
      points.foreach { case (m, t, ts, f) =>
        Wire.writeString(o, m); Wire.writeTags(o, t); o.writeLong(ts); Wire.writeFields(o, f) }
    }.toSeq == spelled.toSeq)
    // a null fields map is an empty block
    assert(Wire.build(_.fields(null)).toSeq == Spelled.dos(Spelled.fields(_, Map.empty)).toSeq)
  }

  test("result-row writer: a raw Row decodes to the item pointEncoder made, byte for byte") {
    val schema = DataPoint.storageSchema
    val noSeq = StructType(schema.filterNot(_.name == "seq"))
    def v(d: Any, l: Any, s: Any, b: Any) = Row(d, l, s, b)
    val fields = Map[String, Row]("d" -> v(1.5, null, null, null),
      "l" -> v(null, 7L, null, null), "s" -> v(null, null, "h\u00e9", null),
      "b" -> v(null, null, null, false), "z" -> null, "e" -> v(null, null, null, null))
    val want = Map("d" -> FieldValue.ofDouble(1.5), "l" -> FieldValue.ofLong(7L),
      "s" -> FieldValue.ofString("h\u00e9"), "b" -> FieldValue.ofBool(false),
      "z" -> FieldValue.NilValue, "e" -> FieldValue.NilValue)
    def item(seq: Long, metric: String, tags: Map[String, String],
        f: Map[String, FieldValue]) =
      Wire.PointItem(seq, metric, tags, 123L, f, 0L, Nil, isAggregated = false)
    val cases: Seq[(StructType, Row, Wire.PointItem)] = Seq(
      (schema, new GenericRowWithSchema(Array("cpu", Map("h" -> "a", "dc" -> "\u00e9"),
        123L, fields, 9L), schema), item(9L, "cpu", Map("h" -> "a", "dc" -> "\u00e9"), want)),
      // the driver-resident tiers hand back schema-less rows
      (schema, Row("cpu", Map("h" -> "a"), 123L, fields, 9L),
        item(9L, "cpu", Map("h" -> "a"), want)),
      (schema, Row(null, null, 123L, null, 3L), item(3L, "", Map.empty, Map.empty)),
      (noSeq, Row("m", Map.empty[String, String], 123L, Map.empty[String, Row]),
        item(0L, "m", Map.empty, Map.empty)))
    cases.foreach { case (sch, row, expected) =>
      val write = GraftTcpServer.rowWriter(sch)
      val b = new Wire.FrameBuilder()
      write(b, row)
      val payload = b.toByteArray
      assert(Wire.decodeQueryResultPart(payload) == (expected -> ""))
      assert(payload.toSeq == Wire.encodeQueryResultPart(expected).toSeq)
    }
  }
}
