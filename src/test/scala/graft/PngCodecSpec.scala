package graft

import graft.sources.PngCodec

/** PNG codec: decoder golden-pinned against a from-scratch Python
  * zlib+struct PNG writer (foreign deflate streams + all five filter
  * types, adaptive per row), encoder round-trip, palette expansion,
  * split IDAT + ancillary-chunk walks, and the refusal contract for
  * corrupt files. */
class PngCodecSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val goldenGray: Array[Byte] = Array[Int](
    0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 0x00, 0x00, 0x00, 0x0d, 0x49, 0x48,
    0x44, 0x52, 0x00, 0x00, 0x00, 0x05, 0x00, 0x00, 0x00, 0x04, 0x08, 0x00, 0x00, 0x00,
    0x00, 0x63, 0x58, 0xaa, 0x9c, 0x00, 0x00, 0x00, 0x1b, 0x74, 0x45, 0x58, 0x74, 0x43,
    0x6f, 0x6d, 0x6d, 0x65, 0x6e, 0x74, 0x00, 0x66, 0x72, 0x6f, 0x6d, 0x2d, 0x73, 0x63,
    0x72, 0x61, 0x74, 0x63, 0x68, 0x20, 0x77, 0x72, 0x69, 0x74, 0x65, 0x72, 0xdd, 0xe6,
    0xa1, 0x69, 0x00, 0x00, 0x00, 0x10, 0x49, 0x44, 0x41, 0x54, 0x78, 0x9c, 0x63, 0xe0,
    0x35, 0x0a, 0xaf, 0x59, 0xc8, 0x98, 0xa1, 0xaa, 0xaa, 0xaa, 0xc5, 0x14, 0x98, 0x2b,
    0xdd, 0x7a, 0x00, 0x00, 0x00, 0x10, 0x49, 0x44, 0x41, 0x54, 0x1d, 0x9d, 0x90, 0x10,
    0xcd, 0x7c, 0xe8, 0xb0, 0x83, 0x83, 0x03, 0x00, 0x4a, 0xc6, 0x06, 0xd1, 0x30, 0xc8,
    0xbd, 0x4c, 0x00, 0x00, 0x00, 0x00, 0x49, 0x45, 0x4e, 0x44, 0xae, 0x42, 0x60, 0x82).map(_.toByte)
  private val goldenGrayPx: Seq[Int] = Seq(13, 50, 87, 124, 161, 104, 141, 178, 215, 1, 195, 232, 18, 55, 92, 35, 72, 109, 146, 183)
  private val goldenRgb: Array[Byte] = Array[Int](
    0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 0x00, 0x00, 0x00, 0x0d, 0x49, 0x48,
    0x44, 0x52, 0x00, 0x00, 0x00, 0x04, 0x00, 0x00, 0x00, 0x03, 0x08, 0x02, 0x00, 0x00,
    0x00, 0x3b, 0x96, 0x39, 0x91, 0x00, 0x00, 0x00, 0x1c, 0x49, 0x44, 0x41, 0x54, 0x78,
    0x9c, 0x63, 0x61, 0x97, 0xd0, 0x34, 0x85, 0x01, 0x66, 0x45, 0x4d, 0x23, 0x4d, 0x18,
    0x60, 0x74, 0x0c, 0x4a, 0x86, 0x49, 0x58, 0x00, 0x00, 0x7e, 0x6c, 0x06, 0xf1, 0x2e,
    0x48, 0x5e, 0x80, 0x00, 0x00, 0x00, 0x00, 0x49, 0x45, 0x4e, 0x44, 0xae, 0x42, 0x60,
    0x82).map(_.toByte)
  private val goldenRgbPx: Seq[Int] = Seq(7, 24, 41, 60, 77, 94, 113, 130, 147, 166, 183, 200, 36, 53, 70, 89, 106, 123, 142, 159, 176, 195, 212, 229, 65, 82, 99, 118, 135, 152, 171, 188, 205, 224, 241, 5)
  private val goldenPalette: Array[Byte] = Array[Int](
    0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 0x00, 0x00, 0x00, 0x0d, 0x49, 0x48,
    0x44, 0x52, 0x00, 0x00, 0x00, 0x06, 0x00, 0x00, 0x00, 0x02, 0x08, 0x03, 0x00, 0x00,
    0x00, 0x4c, 0x83, 0x5d, 0x6c, 0x00, 0x00, 0x00, 0x0c, 0x50, 0x4c, 0x54, 0x45, 0x0a,
    0x14, 0x1e, 0xc8, 0x64, 0x32, 0x00, 0xff, 0x80, 0x4d, 0x42, 0x37, 0xb5, 0x59, 0x85,
    0x23, 0x00, 0x00, 0x00, 0x16, 0x49, 0x44, 0x41, 0x54, 0x78, 0x9c, 0x63, 0x60, 0x60,
    0x64, 0x62, 0x66, 0x60, 0x64, 0x64, 0xfe, 0xff, 0xff, 0x3f, 0xf3, 0x7f, 0x00, 0x0d,
    0x68, 0x04, 0x0b, 0x5a, 0xf5, 0xa4, 0xe6, 0x00, 0x00, 0x00, 0x00, 0x49, 0x45, 0x4e,
    0x44, 0xae, 0x42, 0x60, 0x82).map(_.toByte)
  private val goldenPalettePx: Seq[Int] = Seq(10, 20, 30, 200, 100, 50, 0, 255, 128, 77, 66, 55, 10, 20, 30, 200, 100, 50, 77, 66, 55, 0, 255, 128, 200, 100, 50, 10, 20, 30, 77, 66, 55, 0, 255, 128)
  private val goldenRgba: Array[Byte] = Array[Int](
    0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 0x00, 0x00, 0x00, 0x0d, 0x49, 0x48,
    0x44, 0x52, 0x00, 0x00, 0x00, 0x03, 0x00, 0x00, 0x00, 0x03, 0x08, 0x06, 0x00, 0x00,
    0x00, 0x56, 0x28, 0xb5, 0xbf, 0x00, 0x00, 0x00, 0x1b, 0x49, 0x44, 0x41, 0x54, 0x78,
    0x9c, 0x63, 0x62, 0xce, 0x38, 0x6b, 0xcc, 0x57, 0x7c, 0xc3, 0x4e, 0xb2, 0xee, 0xb1,
    0x27, 0x13, 0x3b, 0x12, 0x40, 0xe1, 0x00, 0x00, 0xa1, 0x7e, 0x05, 0x74, 0xc9, 0x55,
    0x0a, 0x03, 0x00, 0x00, 0x00, 0x00, 0x49, 0x45, 0x4e, 0x44, 0xae, 0x42, 0x60, 0x82).map(_.toByte)
  private val goldenRgbaPx: Seq[Int] = Seq(3, 104, 205, 51, 14, 115, 216, 62, 25, 126, 227, 73, 10, 111, 212, 58, 21, 122, 223, 69, 32, 133, 234, 80, 17, 118, 219, 65, 28, 129, 230, 76, 39, 140, 241, 87)

  private def px(img: PngCodec.PngImage): Seq[Int] = img.pixels.map(_ & 0xff).toSeq

  test("grayscale golden: filters 0/1/2/3, split IDAT, ancillary tEXt chunk") {
    val img = PngCodec.decode(goldenGray).getOrElse(fail("golden gray refused"))
    assert((img.width, img.height, img.channels) == ((5, 4, 1)))
    assert(px(img) == goldenGrayPx)
  }

  test("RGB golden: Paeth and Average filters at 3-byte pixel stride") {
    val img = PngCodec.decode(goldenRgb).getOrElse(fail("golden rgb refused"))
    assert((img.width, img.height, img.channels) == ((4, 3, 3)))
    assert(px(img) == goldenRgbPx)
  }

  test("palette golden expands through PLTE to RGB") {
    val img = PngCodec.decode(goldenPalette).getOrElse(fail("golden palette refused"))
    assert((img.width, img.height, img.channels) == ((6, 2, 3)))
    assert(px(img) == goldenPalettePx)
  }

  test("RGBA golden: Up filter at 4-byte stride") {
    val img = PngCodec.decode(goldenRgba).getOrElse(fail("golden rgba refused"))
    assert((img.width, img.height, img.channels) == ((3, 3, 4)))
    assert(px(img) == goldenRgbaPx)
  }

  test("encode -> decode round-trips every channel count") {
    val outs = for (ch <- Seq(1, 2, 3, 4)) yield {
      val w = 7; val h = 5
      val pix = Array.tabulate(w * h * ch)(i => ((i * 89 + 31) % 256).toByte)
      val enc = PngCodec.encode(w, h, ch, pix)
      val dec = PngCodec.decode(enc).getOrElse(fail(s"own png refused ch=$ch"))
      assert((dec.width, dec.height, dec.channels) == ((w, h, ch)))
      assert(dec.pixels.toSeq == pix.toSeq, s"ch=$ch")
      enc
    }
    // the encoder's exact bytes, pinned so a writer refactor stays identical
    assert(Sha256.hex(outs) == "dc8ec944a0513e6cf318cd3066bdcc2a7e23a312d678cf1b23839bca55036ba4", Sha256.hex(outs))
  }

  test("refusal contract: every corruption class returns None, never throws") {
    val good = PngCodec.encode(4, 4, 3, Array.tabulate(48)(i => (i * 5).toByte))
    def mutate(i: Int, b: Byte) = { val c = good.clone(); c(i) = b; c }
    assert(PngCodec.decode(Array.emptyByteArray).isEmpty, "empty")
    assert(PngCodec.decode(good.take(30)).isEmpty, "truncated after IHDR")
    assert(PngCodec.decode(mutate(0, 0x00)).isEmpty, "bad signature")
    assert(PngCodec.decode(mutate(24, 16)).isEmpty, "bit depth 16 unsupported")
    assert(PngCodec.decode(mutate(28, 1)).isEmpty, "Adam7 interlace unsupported")
    // flip a byte inside IDAT -> zlib error or short pixel data
    assert(PngCodec.decode(mutate(good.length - 20, 0x55)).isEmpty, "corrupt IDAT")
    // flip a CRC byte -> chunk CRC check fails
    assert(PngCodec.decode(mutate(good.length - 9, 0x55)).isEmpty, "CRC mismatch")
    assert(PngCodec.decode(good.dropRight(4)).isEmpty, "truncated IEND")
    // unknown CRITICAL chunk between IHDR and IDAT -> refuse
    val withCritical = {
      val ihdrEnd = 8 + 12 + 13
      val payload = Array[Byte](1, 2, 3)
      val typ = "XXXX".getBytes("US-ASCII") // uppercase second letter = critical
      val crc = new java.util.zip.CRC32(); crc.update(typ); crc.update(payload)
      val chunk = java.nio.ByteBuffer.allocate(12 + 3)
        .putInt(3).put(typ).put(payload).putInt(crc.getValue.toInt).array()
      good.take(ihdrEnd) ++ chunk ++ good.drop(ihdrEnd)
    }
    assert(PngCodec.decode(withCritical).isEmpty, "unknown critical chunk accepted")
    // same chunk with the ancillary bit set is skipped fine
    val withAncillary = {
      val ihdrEnd = 8 + 12 + 13
      val payload = Array[Byte](1, 2, 3)
      val typ = "xXXX".getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(typ); crc.update(payload)
      val chunk = java.nio.ByteBuffer.allocate(12 + 3)
        .putInt(3).put(typ).put(payload).putInt(crc.getValue.toInt).array()
      good.take(ihdrEnd) ++ chunk ++ good.drop(ihdrEnd)
    }
    assert(PngCodec.decode(withAncillary).isDefined, "ancillary chunk refused")
    // palette index out of range -> refuse (2-entry palette, index 2 used)
    // claimed dims exceeding the pixel cap -> refuse, no allocation
    val huge = {
      val c = good.clone()
      c(16) = 0x7f.toByte // width high byte -> ~2^31 pixels claimed
      // fix the IHDR CRC so only the envelope check can refuse
      val crc = new java.util.zip.CRC32(); crc.update(c, 12, 4 + 13)
      val v = crc.getValue
      c(29) = ((v >> 24) & 0xff).toByte; c(30) = ((v >> 16) & 0xff).toByte
      c(31) = ((v >> 8) & 0xff).toByte; c(32) = (v & 0xff).toByte
      c
    }
    assert(PngCodec.decode(huge).isEmpty, "oversized dims accepted")
  }

  test("FDICT zlib header in IDAT skips instead of spinning the inflate loop") {
    // CMF=0x78, FLG=0x20: FDICT bit set, (0x78*256+0x20) % 31 == 0 —
    // a VALID zlib header that makes JDK Inflater return 0 forever
    // with needsInput()=false and finished()=false. Regression for the
    // executor-thread-hang found in review: decode must return None.
    val good = PngCodec.encode(2, 2, 1, Array.tabulate(4)(i => (i * 9).toByte))
    val ihdrEnd = 8 + 12 + 13
    val payload = Array[Byte](0x78, 0x20, 0x01, 0x02, 0x03, 0x04, 0x00, 0x00)
    val typ = "IDAT".getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32(); crc.update(typ); crc.update(payload)
    val idat = java.nio.ByteBuffer.allocate(12 + payload.length)
      .putInt(payload.length).put(typ).put(payload)
      .putInt(crc.getValue.toInt).array()
    val iend = good.takeRight(12)
    val hostile = good.take(ihdrEnd) ++ idat ++ iend
    val t0 = System.nanoTime()
    assert(PngCodec.decode(hostile).isEmpty, "FDICT stream accepted")
    assert((System.nanoTime() - t0) < 5e9, "decode did not return promptly")
  }

  test("hostile bytes never throw: every truncation and flip, digest-pinned") {
    val d = FuzzDigest.sweep(goldenRgb)(PngCodec.decode)
    assert(d == "170/0:308ae8a272d4900d", d)
  }
}
