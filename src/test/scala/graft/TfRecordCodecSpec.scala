package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.TfRecordCodec

/** Contract specs for the TFRecord + tf.train.Example codec: masked
  * crc32c framing, the per-file refusal contract under hostile bytes,
  * and the proto-walker semantics (packed/unpacked lists, unknown
  * fields, map last-wins, oneof override). Cross-writer compatibility
  * is pinned by the committed foreign fixtures (tools/
  * tfrecord_golden.py) through the oracle-graded q_tfrecord_read. */
class TfRecordCodecSpec extends AnyFunSuite {

  // -- minimal independent encoders (proto wire + framing) -----------
  private def varint(v: Long): Array[Byte] = {
    var x = v
    val out = scala.collection.mutable.ArrayBuffer[Byte]()
    var done = false
    while (!done) {
      val b = (x & 0x7f).toInt
      x = x >>> 7
      if (x != 0) out += (b | 0x80).toByte
      else { out += b.toByte; done = true }
    }
    out.toArray
  }
  private def tag(f: Int, w: Int): Array[Byte] = varint((f << 3) | w)
  private def ld(f: Int, body: Array[Byte]): Array[Byte] =
    tag(f, 2) ++ varint(body.length) ++ body
  private def le32(v: Int): Array[Byte] =
    Array(v, v >> 8, v >> 16, v >> 24).map(_.toByte)
  private def le64(v: Long): Array[Byte] =
    (0 to 7).map(i => (v >> (8 * i)).toByte).toArray
  private def frame(rec: Array[Byte]): Array[Byte] = {
    val ln = le64(rec.length.toLong)
    ln ++ le32(TfRecordCodec.maskedCrc32c(ln, 0, 8)) ++ rec ++
      le32(TfRecordCodec.maskedCrc32c(rec, 0, rec.length))
  }
  private def entry(k: String, featBody: Array[Byte]): Array[Byte] =
    ld(1, ld(1, k.getBytes("UTF-8")) ++ ld(2, featBody))
  private def example(es: Array[Byte]*): Array[Byte] = ld(1, es.flatten.toArray)
  private def packedInts(vs: Long*): Array[Byte] =
    ld(3, ld(1, vs.toArray.flatMap(varint)))
  private def packedFloats(bits: Int*): Array[Byte] =
    ld(2, ld(1, bits.toArray.flatMap(le32)))
  private def bytesList(vs: Array[Byte]*): Array[Byte] =
    ld(1, vs.toArray.flatMap(ld(1, _)))

  test("masked crc32c matches the published TFRecord mask of the RFC 3720 vector") {
    // crc32c("123456789") = 0xE3069283; mask = rotr15 + 0xa282ead8
    val d = "123456789".getBytes
    val c = 0xE3069283
    val expect = ((c >>> 15) | (c << 17)) + 0xa282ead8
    assert(TfRecordCodec.maskedCrc32c(d, 0, d.length) == expect)
  }

  test("framing: records parse in order; empty payload record is legal") {
    val a = example(entry("x", packedInts(1, 2)))
    val b = Array.emptyByteArray
    val rs = TfRecordCodec.parse(frame(a) ++ frame(b)).get
    assert(rs.length == 2)
    assert(rs(0).sameElements(a) && rs(1).isEmpty)
  }

  test("framing refusals: truncation, CRC flips, oversize length, trailing junk") {
    val f = frame(example(entry("x", packedInts(7))))
    assert(TfRecordCodec.parse(Array.emptyByteArray).isEmpty)
    assert(TfRecordCodec.parse(f.dropRight(1)).isEmpty)      // data CRC cut
    assert(TfRecordCodec.parse(f.dropRight(7)).isEmpty)      // data cut
    val lenCrcFlip = f.clone; lenCrcFlip(9) = (lenCrcFlip(9) ^ 0xff).toByte
    assert(TfRecordCodec.parse(lenCrcFlip).isEmpty)
    val dataCrcFlip = f.clone
    dataCrcFlip(f.length - 1) = (dataCrcFlip(f.length - 1) ^ 0xff).toByte
    assert(TfRecordCodec.parse(dataCrcFlip).isEmpty)
    val dataFlip = f.clone; dataFlip(14) = (dataFlip(14) ^ 0xff).toByte
    assert(TfRecordCodec.parse(dataFlip).isEmpty)
    assert(TfRecordCodec.parse(f ++ Array[Byte](1, 2, 3)).isEmpty)
    val huge = le64(Long.MaxValue)
    assert(TfRecordCodec.parse(
      huge ++ le32(TfRecordCodec.maskedCrc32c(huge, 0, 8)) ++ f).isEmpty)
  }

  test("example decode: kinds, element order, raw float bits, negative int64") {
    val nanBits = 0x7fc00001
    val ex = example(
      entry("t", bytesList("a".getBytes, "bc".getBytes)),
      entry("i", packedInts(-3L, 1L << 40)),
      entry("f", packedFloats(java.lang.Float.floatToIntBits(-1.25f), nanBits)))
    val m = TfRecordCodec.parseExample(ex).get.toMap
    assert(m("t").bytess.map(new String(_)) == Vector("a", "bc"))
    assert(m("i").ints == Vector(-3L, 1L << 40))
    assert(m("f").floatBits == Vector(
      java.lang.Float.floatToIntBits(-1.25f), nanBits))
  }

  test("unpacked encodings, split packed chunks, unknown fields skipped") {
    val uf = ld(2, tag(1, 5) ++ le32(1065353216) ++ tag(1, 5) ++ le32(0))
    val ui = ld(3, tag(1, 0) ++ varint(9) ++ tag(1, 0) ++ varint(10))
    val split = ld(2, ld(1, le32(1)) ++ ld(1, le32(2) ++ le32(3)))
    val ex = tag(7, 0) ++ varint(5) ++ example(
      entry("uf", uf), entry("ui", ui), entry("sp", split),
      ld(1, ld(1, "junked".getBytes) ++ ld(2, packedInts(4)) ++
        tag(9, 0) ++ varint(1))) ++ ld(8, "unknown".getBytes)
    val m = TfRecordCodec.parseExample(ex).get.toMap
    assert(m("uf").floatBits == Vector(1065353216, 0))
    assert(m("ui").ints == Vector(9L, 10L))
    assert(m("sp").floatBits == Vector(1, 2, 3))
    assert(m("junked").ints == Vector(4L))
  }

  test("map duplicate key last-wins; oneof kind override; empty/kindless") {
    val ex = example(
      entry("d", packedInts(1)), entry("d", packedInts(2)),
      entry("o", packedInts(9) ++ bytesList("w".getBytes)),
      entry("e", ld(3, Array.emptyByteArray)),
      entry("k", Array.emptyByteArray))
    val es = TfRecordCodec.parseExample(ex).get
    val m = es.toMap
    assert(es.map(_._1) == Vector("d", "o", "e", "k"))
    assert(m("d").ints == Vector(2L))
    assert(m("o").kind == "bytes" && m("o").bytess.map(new String(_)) == Vector("w"))
    assert(m("e").kind == "int64" && m("e").ints.isEmpty)
    assert(m("k").kind == "")
    assert(TfRecordCodec.parseExample(Array.emptyByteArray).get.isEmpty)
  }

  test("per-record degrade: hostile payloads refuse the example, not the frame") {
    assert(TfRecordCodec.parseExample(Array[Byte](-1, -1, -1)).isEmpty)
    // truncated nested length
    assert(TfRecordCodec.parseExample(tag(1, 2) ++ varint(100)).isEmpty)
    // group wire type is not in the Example grammar
    assert(TfRecordCodec.parseExample(tag(4, 3) ++ tag(4, 4)).isEmpty)
  }

  test("fuzz: random corruption of a valid file never throws") {
    val base = frame(example(
      entry("t", bytesList("text".getBytes)),
      entry("i", packedInts(1, 2, 3)),
      entry("f", packedFloats(7, 8)))) ++
      frame(example(entry("u", packedInts(4))))
    val rnd = new scala.util.Random(42)
    val fz = new FuzzDigest
    (0 until 500).foreach { _ =>
      val b = base.clone
      val flips = 1 + rnd.nextInt(4)
      (0 until flips).foreach { _ =>
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      }
      val cut = if (rnd.nextBoolean()) b.take(rnd.nextInt(b.length)) else b
      val recs = TfRecordCodec.parse(cut)
      fz.add(recs)
      recs.foreach(_.foreach(r => fz.add(TfRecordCodec.parseExample(r))))
    }
    assert(fz.hex == "503/5:58c3af2b9fd7526d", fz.hex)
  }
}
