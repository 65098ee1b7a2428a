package graft

import java.nio.file.{Files, Paths}

import graft.sources.JpegCodec

/** JPEG decoder vs the committed foreign fixtures: the four baseline
  * streams in tools/fixtures/q_jpeg_decode/ come from the independent
  * from-scratch Python encoder (tools/jpeg_golden.py — own FDCT, own
  * Huffman coder); expected pixels come from the independent Python
  * decoder implementing the shared integer spec. Every pixel must
  * match exactly (integer IDCT/upsample/color pipeline on both
  * sides). Plus the refusal contract: progressive, truncated,
  * corrupt-entropy, and garbage streams return None, never throw. */
class JpegCodecSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val fixDir = Paths.get("tools/fixtures/q_jpeg_decode")

  private def readFix(name: String): Array[Byte] =
    Files.readAllBytes(fixDir.resolve(name))

  /** (name -> (y, x) -> (r,g,b)) from the golden parquet, read with
    * Spark (same bits DuckDB grades q_jpeg_decode against). */
  private lazy val golden: Map[String, Map[(Int, Int), (Int, Int, Int)]] = {
    val spark = SparkSpec.session
    val rows = spark.read
      .parquet(fixDir.resolve("golden").toString)
      .collect()
    rows.groupBy(_.getString(0)).map { case (name, rs) =>
      name -> rs.map(r =>
        (r.getInt(1), r.getInt(2)) -> ((r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
    }
  }

  private def checkExact(name: String, file: String): Unit = {
    val img = JpegCodec.decode(readFix(file)).getOrElse(fail(s"$file refused"))
    val exp = golden(name)
    assert(exp.size == img.width * img.height, s"$name dims")
    var bad = 0
    for (y <- 0 until img.height; x <- 0 until img.width) {
      val got =
        if (img.channels == 1) {
          val v = img.pixels(y * img.width + x) & 0xff; (v, v, v)
        } else {
          val i = (y * img.width + x) * 3
          (img.pixels(i) & 0xff, img.pixels(i + 1) & 0xff, img.pixels(i + 2) & 0xff)
        }
      if (got != exp((y, x))) bad += 1
    }
    assert(bad == 0, s"$name: $bad/${exp.size} pixels differ from the Python decode")
  }

  test("grayscale 16x12: non-multiple-of-8 height, single component") {
    val img = JpegCodec.decode(readFix("gray_16x12.jpg")).getOrElse(fail("refused"))
    assert((img.width, img.height, img.channels) == ((16, 12, 1)))
    checkExact("gray_16x12", "gray_16x12.jpg")
  }

  test("RGB 4:4:4 12x10: three components, unit sampling factors") {
    val img = JpegCodec.decode(readFix("rgb444_12x10.jpg")).getOrElse(fail("refused"))
    assert((img.width, img.height, img.channels) == ((12, 10, 3)))
    checkExact("rgb444_12x10", "rgb444_12x10.jpg")
  }

  test("RGB 4:2:0 21x13: odd dims exercise chroma edge replication") {
    checkExact("rgb420_21x13", "rgb420_21x13.jpg")
  }

  test("RGB 4:2:2 19x11: horizontal-only chroma subsampling") {
    checkExact("rgb422_19x11", "rgb422_19x11.jpg")
  }

  test("RGB 4:2:0 48x32 with DRI=1: restart markers + DC predictor resets") {
    checkExact("rgb420r_48x32", "rgb420r_48x32.jpg")
  }

  test("refusal: progressive SOF2 returns None") {
    val d = readFix("gray_16x12.jpg").clone()
    // patch the SOF0 marker (FF C0) to SOF2 (FF C2)
    val i = d.indices.dropRight(1)
      .find(i => (d(i) & 0xff) == 0xff && (d(i + 1) & 0xff) == 0xc0)
      .getOrElse(fail("no SOF0 in fixture"))
    d(i + 1) = 0xc2.toByte
    assert(JpegCodec.decode(d).isEmpty)
  }

  test("refusal: truncated entropy data returns None") {
    val d = readFix("rgb444_12x10.jpg")
    assert(JpegCodec.decode(d.take(d.length / 2)).isEmpty)
  }

  test("refusal: corrupted restart sequence returns None") {
    val d = readFix("rgb420r_48x32.jpg").clone()
    // flip the index of the first RST marker (FFD0 -> FFD5)
    val i = d.indices.dropRight(1)
      .find(i => (d(i) & 0xff) == 0xff && (d(i + 1) & 0xff) == 0xd0)
      .getOrElse(fail("no RST0 in fixture"))
    d(i + 1) = 0xd5.toByte
    assert(JpegCodec.decode(d).isEmpty)
  }

  test("encoder is byte-identical to the Python integer encoder (grayscale, odd dims)") {
    val w = 13; val h = 7
    val pix = new Array[Byte](w * h)
    for (y <- 0 until h; x <- 0 until w)
      pix(y * w + x) = ((x * 13 + y * 29 + ((x * y) % 17) * 3) % 256).toByte
    val enc = JpegCodec.encode(w, h, 1, pix)
    val golden = Files.readAllBytes(Paths.get("tools/fixtures/jpeg_enc/gray_13x7.jpg"))
    assert(enc.length == golden.length, s"${enc.length} vs ${golden.length}")
    assert(enc.sameElements(golden))
  }

  test("encoder is byte-identical to the Python integer encoder (RGB 4:4:4, odd dims)") {
    val w = 11; val h = 9
    val pix = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      pix(i) = ((x * 7 + y * 11 + 5) % 256).toByte
      pix(i + 1) = ((x * 3 + y * 17 + 25) % 256).toByte
      pix(i + 2) = (((x + y) * 23 + 45) % 256).toByte
    }
    val enc = JpegCodec.encode(w, h, 3, pix)
    val golden = Files.readAllBytes(Paths.get("tools/fixtures/jpeg_enc/rgb_11x9.jpg"))
    assert(enc.length == golden.length, s"${enc.length} vs ${golden.length}")
    assert(enc.sameElements(golden))
  }

  test("encode(x) decodes with own decoder, lossy-close on smooth images") {
    val w = 16; val h = 16
    val pix = Array.tabulate(w * h)(i => (60 + 3 * (i % w) + 2 * (i / w)).toByte)
    val img = JpegCodec.decode(JpegCodec.encode(w, h, 1, pix))
      .getOrElse(fail("own stream refused"))
    assert((img.width, img.height, img.channels) == ((w, h, 1)))
    val maxErr = (0 until w * h)
      .map(i => math.abs((img.pixels(i) & 0xff) - (pix(i) & 0xff))).max
    assert(maxErr <= 4, s"smooth-gradient round-trip error $maxErr")
  }

  test("grayscale frames with declared 2x2 sampling decode non-interleaved") {
    // 10918-1: a single-component scan is non-interleaved — raster
    // order of 8x8 units regardless of sampling factors (files
    // converted from 4:2:0 color keep h=v=2 on their only component).
    // Patching the factors must therefore NOT change the decode.
    val base = readFix("gray_16x12.jpg")
    val ref = JpegCodec.decode(base).getOrElse(fail("refused"))
    val d = base.clone()
    val i = d.indices.dropRight(1)
      .find(i => (d(i) & 0xff) == 0xff && (d(i + 1) & 0xff) == 0xc0)
      .getOrElse(fail("no SOF0 in fixture"))
    // SOF0 payload: len(2) prec(1) h(2) w(2) nc(1) cid(1) HV(1) ...
    assert((d(i + 11) & 0xff) == 0x11, "expected 1x1 factors in fixture")
    d(i + 11) = 0x22.toByte
    val patched = JpegCodec.decode(d).getOrElse(fail("2x2 grayscale refused"))
    assert(patched.pixels.sameElements(ref.pixels),
      "sampling factors changed a single-component decode")
  }

  test("refusal: a header claiming 65535x65535 refuses before allocating") {
    val d = readFix("gray_16x12.jpg").clone()
    val i = d.indices.dropRight(1)
      .find(i => (d(i) & 0xff) == 0xff && (d(i + 1) & 0xff) == 0xc0)
      .getOrElse(fail("no SOF0 in fixture"))
    // SOF0 payload: len(2) precision(1) height(2) width(2)...
    d(i + 5) = 0xff.toByte; d(i + 6) = 0xff.toByte // height = 65535
    d(i + 7) = 0xff.toByte; d(i + 8) = 0xff.toByte // width = 65535
    assert(JpegCodec.decode(d).isEmpty, "decompression-bomb dims accepted")
  }

  test("refusal: garbage and empty input return None") {
    assert(JpegCodec.decode(Array[Byte]()).isEmpty)
    assert(JpegCodec.decode(Array.fill[Byte](64)(0x41)).isEmpty)
    assert(JpegCodec.decode(Array[Byte](0xff.toByte, 0xd8.toByte, 0x00, 0x00)).isEmpty)
  }

  test("hostile bytes never throw: every truncation and flip, digest-pinned") {
    // one fixture per decoder entry point: baseline, lossless, 12-bit
    val d = Seq(
      FuzzDigest.sweep(readFix("rgb420_21x13.jpg"))(JpegCodec.decode),
      FuzzDigest.sweep(Files.readAllBytes(
        Paths.get("tools/fixtures/q_jpeg_lossless/gray8-p1.jpg")))(
        JpegCodec.decodeLossless),
      FuzzDigest.sweep(Files.readAllBytes(
        Paths.get("tools/fixtures/q_jpeg12/gray12_11x9.jpg")))(
        JpegCodec.decode12))
    assert(d == Seq(
      "1496/594:7ee9cd3d847c936b",
      "380/33:72c915bfd5d3d799",
      "962/367:f01a7dc669f4468a"), d)
  }
}
