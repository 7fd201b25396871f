package graft

import graft.model.FieldValue
import graft.server.Wire
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

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
      val i = Wire.dis(Wire.encodePush(metric, tags, ts, fields))
      Wire.readString(i) == metric && Wire.readTags(i) == tags &&
        i.readLong() == ts && Wire.readFields(i) == fields
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
}
