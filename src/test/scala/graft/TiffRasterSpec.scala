package graft

import java.nio.file.{Files, Paths}
import graft.operators.MultimodalOps

/** The widened TIFF envelope (round-10 verdict ask #2): LZW +
  * horizontal predictor, deflate, multi-band chunky + planar,
  * int16/uint16/float32, strip AND tile layouts, both byte orders.
  *
  * Golden fixtures were produced by an INDEPENDENT Python writer
  * (`tools/fixtures/make_tiff_lzw.py`) implementing the public
  * TIFF 6.0 spec — the same external-cross-check role numpy's
  * np.save plays for NpyCodecSpec; the deflate fixture's stream comes
  * from Python zlib (an external compressor). The real-world check
  * decodes the reference's actual GDAL-written GeoTIFFs
  * (deflate-compressed, tiled, planar, float32) against stats pinned
  * from an independent Python decode.
  */
class TiffRasterSpec extends SparkSpec {

  // ---- golden containers from tools/fixtures/make_tiff_lzw.py ----

  // 4x3, 2-band int16, LZW + predictor 2, little-endian, 2 rows/strip
  private val goldenLzwI16: Array[Byte] = Array[Int](
    73, 73, 42, 0, 8, 0, 0, 0, 12, 0, 0, 1, 3, 0, 1, 0, 0, 0, 4, 0, 0, 0, 1, 1, 3, 0, 1, 0, 0, 0, 3, 0, 0, 0, 2, 1, 3, 0, 2, 0, 0, 0, 16, 0, 16, 0, 3, 1, 3, 0, 1, 0, 0, 0, 5, 0, 0, 0, 6, 1, 3, 0, 1, 0, 0, 0, 1, 0, 0, 0, 17, 1, 4, 0, 2, 0, 0, 0, -98, 0, 0, 0, 21, 1, 3, 0, 1, 0, 0, 0, 2, 0, 0, 0, 22, 1, 3, 0, 1, 0, 0, 0, 2, 0, 0, 0, 23, 1, 4, 0, 2, 0, 0, 0, -90, 0, 0, 0, 28, 1, 3, 0, 1, 0, 0, 0, 1, 0, 0, 0, 61, 1, 3, 0, 1, 0, 0, 0, 2, 0, 0, 0, 83, 1, 3, 0, 2, 0, 0, 0, 2, 0, 2, 0, 0, 0, 0, 0, -82, 0, 0, 0, -58, 0, 0, 0, 24, 0, 0, 0, 15, 0, 0, 0, -128, 26, -97, -32, 0, 1, -112, 0, -37, 127, -63, -95, 16, -89, -7, -83, -1, 11, -125, -62, 98, 48, -56, 8, -128, 27, 31, -21, 103, -7, -112, 0, -37, -126, -63, -31, 48, -120, 8, 0).map(_.toByte)
  private val expectedI16: Seq[Double] = Seq(
    -150, 0, -50, -37, 50, -74, 150, -111, -149, -37, -49, -74, 51, -111,
    151, -148, -148, -74, -48, -111, 52, -148, 152, -185).map(_.toDouble)

  // 5x2 single-band float32, LZW no predictor, BIG-endian, 2 rows/strip
  private val goldenLzwF32be: Array[Byte] = Array[Int](
    77, 77, 0, 42, 0, 0, 0, 8, 0, 12, 1, 0, 0, 3, 0, 0, 0, 1, 0, 5, 0, 0, 1, 1, 0, 3, 0, 0, 0, 1, 0, 2, 0, 0, 1, 2, 0, 3, 0, 0, 0, 1, 0, 32, 0, 0, 1, 3, 0, 3, 0, 0, 0, 1, 0, 5, 0, 0, 1, 6, 0, 3, 0, 0, 0, 1, 0, 1, 0, 0, 1, 17, 0, 4, 0, 0, 0, 1, 0, 0, 0, -98, 1, 21, 0, 3, 0, 0, 0, 1, 0, 1, 0, 0, 1, 22, 0, 3, 0, 0, 0, 1, 0, 2, 0, 0, 1, 23, 0, 4, 0, 0, 0, 1, 0, 0, 0, 35, 1, 28, 0, 3, 0, 0, 0, 1, 0, 1, 0, 0, 1, 61, 0, 3, 0, 0, 0, 1, 0, 1, 0, 0, 1, 83, 0, 3, 0, 0, 0, 1, 0, 3, 0, 0, 0, 0, 0, 0, -128, 15, -40, 0, 0, 3, 0, 33, 4, -124, 0, 9, 9, 35, -32, 1, 125, 8, 32, 56, 32, -124, 33, 84, 17, -120, 122, -126, 15, -31, 4, 16, -28, 18, 2, 0).map(_.toByte)
  private val expectedF32: Seq[Double] =
    Seq(1.5, -2.25, 0.0, 300000.0, -0.125, 7.0, 42.5, -1000.0, 0.5, 9.75)

  // 6x4 single-band uint8, LZW + predictor 2 (repetitive payload:
  // multi-byte table entries actually form)
  private val goldenLzwU8: Array[Byte] = Array[Int](
    73, 73, 42, 0, 8, 0, 0, 0, 12, 0, 0, 1, 3, 0, 1, 0, 0, 0, 6, 0, 0, 0, 1, 1, 3, 0, 1, 0, 0, 0, 4, 0, 0, 0, 2, 1, 3, 0, 1, 0, 0, 0, 8, 0, 0, 0, 3, 1, 3, 0, 1, 0, 0, 0, 5, 0, 0, 0, 6, 1, 3, 0, 1, 0, 0, 0, 1, 0, 0, 0, 17, 1, 4, 0, 1, 0, 0, 0, -98, 0, 0, 0, 21, 1, 3, 0, 1, 0, 0, 0, 1, 0, 0, 0, 22, 1, 3, 0, 1, 0, 0, 0, 4, 0, 0, 0, 23, 1, 4, 0, 1, 0, 0, 0, 18, 0, 0, 0, 28, 1, 3, 0, 1, 0, 0, 0, 1, 0, 0, 0, 61, 1, 3, 0, 1, 0, 0, 0, 2, 0, 0, 0, 83, 1, 3, 0, 1, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, -128, 0, 0, 112, 55, -64, 12, 3, 3, 1, -63, 64, 80, 72, 68, 48, 7, 1).map(_.toByte)
  private val expectedU8: Seq[Double] = Seq(
    0, 3, 6, 9, 1, 4, 1, 4, 7, 10, 2, 5, 2, 5, 8, 0, 3, 6, 3, 6, 9, 1, 4, 7)
    .map(_.toDouble)

  // 30x20 u8 LCG noise, LZW no predictor: the code stream CROSSES the
  // 9→10-bit early-change boundary (the classic desync point)
  private val goldenLzwWide: Array[Byte] = Array[Int](
    73, 73, 42, 0, 8, 0, 0, 0, 12, 0, 0, 1, 3, 0, 1, 0, 0, 0, 30, 0, 0, 0, 1, 1, 3, 0, 1, 0, 0, 0, 20, 0, 0, 0, 2, 1, 3, 0, 1, 0, 0, 0, 8, 0, 0, 0, 3, 1, 3, 0, 1, 0, 0, 0, 5, 0, 0, 0, 6, 1, 3, 0, 1, 0, 0, 0, 1, 0, 0, 0, 17, 1, 4, 0, 1, 0, 0, 0, -98, 0, 0, 0, 21, 1, 3, 0, 1, 0, 0, 0, 1, 0, 0, 0, 22, 1, 3, 0, 1, 0, 0, 0, 20, 0, 0, 0, 23, 1, 4, 0, 1, 0, 0, 0, -48, 2, 0, 0, 28, 1, 3, 0, 1, 0, 0, 0, 1, 0, 0, 0, 61, 1, 3, 0, 1, 0, 0, 0, 1, 0, 0, 0, 83, 1, 3, 0, 1, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, -128, 55, 0, -122, 85, 80, 125, 90, 29, 45, 54, -100, -86, -64, -40, 120, -66, 19, 56, 30, 77, -113, -48, -125, -4, 50, -81, 48, 7, 64, -118, -59, -96, 116, 4, 43, 35, 30, 14, 99, -89, -109, 124, -66, -82, 91, -126, 11, 45, 23, 112, -28, 32, -53, 36, 37, 86, -84, -60, 72, -92, 34, -1, 3, 45, -116, 66, -26, -8, -15, -14, 53, 126, -110, -46, -126, -122, 80, 36, -8, 68, 89, -128, -117, -55, 98, -6, -51, -44, 109, 86, 53, 5, -88, 19, 113, -91, 94, -32, 115, 33, -55, -119, -64, 35, -99, -92, 54, 46, -117, 12, 12, -105, 83, -48, -14, -10, 67, 40, 29, 105, 49, 51, -112, -60, 18, 106, -125, 89, 107, 51, -72, 84, -44, 106, 29, 26, 23, 72, -26, -39, -48, 16, 70, 79, 60, -39, -53, 48, 83, -31, -96, -35, 52, 46, -33, 5, -9, -48, -111, -28, -46, 126, 6, 16, -17, -78, -30, 29, 116, -76, 28, 12, -108, -87, -80, -40, -12, 32, 124, 123, -98, 26, -57, -9, 17, -75, -16, 17, 72, -118, 79, -55, 52, -85, 44, 36, -59, 43, -77, -117, 79, 22, -96, 88, 48, -41, 12, -81, 0, -123, -77, -14, 100, -54, -15, 81, 37, 14, 44, 65, 82, -80, -44, -87, 28, 49, 14, -84, 117, 104, -56, 112, 2, 15, -127, 71, 98, -60, -56, 105, -8, -21, 10, -73, -103, -9, -89, 1, -15, 120, -42, 15, 37, -61, 105, -96, 90, 117, 124, -105, 49, -76, -46, 79, -59, 123, 125, 68, -116, 75, -120, -56, -90, 39, 91, 116, 14, 101, 56, 63, -53, 8, -109, 83, 60, -9, 50, -114, -32, -4, 28, 58, 78, 64, 40, 104, 57, 77, -30, 76, -115, 14, 9, -63, -12, -67, 53, -59, -80, 36, -44, 57, -50, 32, -52, 68, 15, -60, -94, 48, -60, 40, 73, 3, 88, -72, 46, 13, -63, -124, 95, 52, 72, -32, -96, -66, 22, 64, -30, -88, 80, 6, -59, 2, 40, 106, 13, -126, -109, -104, 112, 55, -59, 81, -36, -70, 55, 4, 65, -76, 67, 46, -54, -112, 32, 23, 53, -116, 3, -40, 123, 2, 6, 17, -64, -39, 11, 76, -112, 72, 114, 22, -62, 65, -8, -62, 56, -115, -94, -60, -78, 1, 9, -32, -128, -128, 29, 3, 114, 104, 111, 36, 0, -61, 116, 46, 23, -121, 35, -44, 9, 18, 11, 97, 96, -47, 37, -50, -109, 12, -116, 44, 70, -29, 76, -35, 4, -124, 65, -120, 50, 3, 1, 66, -100, -81, 15, -49, -96, 48, -34, 53, -127, 51, 56, 19, 33, -116, -79, 92, -96, 17, -50, 65, 108, -66, 52, 68, 82, -48, 54, 53, 72, -125, -8, -46, 0, 4, 19, -56, -121, 44, 64, -14, 12, 95, 29, 6, 82, -24, 40, 17, -127, 97, 72, -33, 34, 10, 32, 76, -39, 47, -60, 35, -68, -73, 4, 75, 83, 120, 7, 31, -52, -111, -28, -70, 56, -54, -127, 96, 74, 42, 78, -128, -76, -88, 19, 69, 2, 116, -26, 38, 6, -77, -120, -87, 38, -116, -16, -124, 76, 25, -126, -94, 48, -43, 36, 1, 16, -36, -104, 25, -56, -110, -20, -83, 60, -59, 18, 52, 19, 43, 79, 80, 112, -95, 0, 73, 66, -80, -80, 33, 6, -61, -44, -118, 61, 66, -95, -24, -111, 61, 79, 50, -84, 47, 33, -125, 34, -24, -127, 17, 66, 0, -12, -61, 25, -63, 66, 32, 122, 29, 73, 3, 32, 99, 49, -64, 115, -128, 30, 48, -121, 0, 12, -102, 52, 72, -80, 88, 63, 9, 15, 99, 12, -34, 10, -50, -15, 116, 90, 52, 78, 97, -40, 19, 30, 76, -95, 8, 22, 46, 65, 2, -88, 5, 54, 72, 48, -64, -57, 2, -116, -14, 20, -16, 25, -116, -77, -80, -17, 43, 8, -111, 48, -6, 45, -63, -16, 96, -70, 48, -61, 67, 124, -74, 24, 4, -94, -56, -128, 12, -116, -48, -28, -95, 27, -115, -14, 80, 68, 5, 14, 19, -52, -90, 59, 12, 19, -48, 57, 16, -64, 99, 0, -101, 24, -119, -45, -116, 58, 52, -58, 19, -68, -61, 20, -58, -77, 64, 79, 37, -127, -13, -72, 77, 47, 80, 16).map(_.toByte)

  // 5x4 3-band uint16, DEFLATE (python zlib) + predictor 2, external
  // BitsPerSample/SampleFormat arrays, 2 rows/strip
  private val goldenDeflateU16: Array[Byte] = Array[Int](
    73, 73, 42, 0, 8, 0, 0, 0, 12, 0, 0, 1, 3, 0, 1, 0, 0, 0, 5, 0, 0, 0, 1, 1, 3, 0, 1, 0, 0, 0, 4, 0, 0, 0, 2, 1, 3, 0, 3, 0, 0, 0, -98, 0, 0, 0, 3, 1, 3, 0, 1, 0, 0, 0, 8, 0, 0, 0, 6, 1, 3, 0, 1, 0, 0, 0, 1, 0, 0, 0, 17, 1, 4, 0, 2, 0, 0, 0, -86, 0, 0, 0, 21, 1, 3, 0, 1, 0, 0, 0, 3, 0, 0, 0, 22, 1, 3, 0, 1, 0, 0, 0, 2, 0, 0, 0, 23, 1, 4, 0, 2, 0, 0, 0, -78, 0, 0, 0, 28, 1, 3, 0, 1, 0, 0, 0, 1, 0, 0, 0, 61, 1, 3, 0, 1, 0, 0, 0, 2, 0, 0, 0, 83, 1, 3, 0, 3, 0, 0, 0, -92, 0, 0, 0, 0, 0, 0, 0, 16, 0, 16, 0, 16, 0, 1, 0, 1, 0, 1, 0, -70, 0, 0, 0, -42, 0, 0, 0, 27, 0, 0, 0, 42, 0, 0, 0, 120, -100, -117, 19, -41, -112, -1, -92, 22, -121, -125, -28, 85, -34, -93, -105, 109, -123, -99, -28, 10, 0, 0, 32, 99, 17, -107, 0, 120, -100, -37, -93, 23, 96, -9, -60, 119, 15, 10, -7, 62, -72, 57, 25, -62, -50, -74, 122, -30, 27, -101, -120, 32, -1, -108, 101, 91, 53, 39, -57, 38, 114, 5, -128, -40, 0, 61, -89, 27, 109).map(_.toByte)
  private val expectedDeflateU16: Seq[Double] = Seq(
    5982, 7976, 9970, 11964, 15952, 19940, 17946, 23928, 29910, 23928,
    31904, 39880, 29910, 39880, 49850, 8973, 11964, 14955, 17946, 23928,
    29910, 26919, 35892, 44865, 35892, 47856, 59820, 44865, 59820, 14774,
    11964, 15952, 19940, 23928, 31904, 39880, 35892, 47856, 59820, 47856,
    3807, 19759, 59820, 19759, 39699, 14955, 19940, 24925, 29910, 39880,
    49850, 44865, 59820, 14774, 59820, 19759, 39699, 14774, 39699, 4623)
    .map(_.toDouble)

  test("LZW int16 2-band multi-strip with predictor decodes exactly (external writer)") {
    val r = MultimodalOps.decodeTiffRaster(goldenLzwI16).get
    assert((r.width, r.height, r.bands, r.fmt) == ((4, 3, 2, "i16")))
    assert(r.values.toSeq == expectedI16)
  }

  test("LZW float32 big-endian decodes exactly (external writer)") {
    val r = MultimodalOps.decodeTiffRaster(goldenLzwF32be).get
    assert((r.width, r.height, r.bands, r.fmt) == ((5, 2, 1, "f32")))
    assert(r.values.toSeq == expectedF32)
  }

  test("LZW uint8 with predictor decodes exactly, incl. via the u8 adapter") {
    val r = MultimodalOps.decodeTiffRaster(goldenLzwU8).get
    assert((r.width, r.height, r.bands, r.fmt) == ((6, 4, 1, "u8")))
    assert(r.values.toSeq == expectedU8)
    // the legacy DecodedImage view decodes the same container
    val img = MultimodalOps.decodeTiff(goldenLzwU8).get
    assert(img.samples.toSeq == expectedU8.map(_.toInt))
  }

  test("LZW stream crossing the 9→10-bit early-change boundary decodes exactly") {
    val r = MultimodalOps.decodeTiffRaster(goldenLzwWide).get
    assert((r.width, r.height, r.bands, r.fmt) == ((30, 20, 1, "u8")))
    // regenerate the LCG payload independently
    var seed = 12345L
    val expect = (0 until 600).map { _ =>
      seed = (seed * 1103515245L + 12345L) & 0x7fffffffL
      ((seed >> 16) & 0xff).toDouble
    }
    assert(r.values.toSeq == expect)
    assert(r.values.sum == 79295.0)
  }

  test("deflate uint16 3-band with predictor decodes exactly (python-zlib stream)") {
    val r = MultimodalOps.decodeTiffRaster(goldenDeflateU16).get
    assert((r.width, r.height, r.bands, r.fmt) == ((5, 4, 3, "u16")))
    assert(r.values.toSeq == expectedDeflateU16)
  }

  test("encodeTiffRaster → decodeTiffRaster round-trips every supported format") {
    val cases = Seq(
      ("u8", 7, 3, 1, (i: Int) => (i * 37 % 256).toDouble),
      ("i16", 5, 4, 2, (i: Int) => (i * 193 % 30000 - 15000).toDouble),
      ("u16", 6, 2, 3, (i: Int) => (i * 7919 % 60000).toDouble),
      ("f32", 4, 4, 2, (i: Int) => i * 0.25 - 3.5))
    val outs = for ((fmt, w, h, spp, gen) <- cases; comp <- Seq("none", "lzw", "deflate");
         pred <- Seq(false, true) if !(pred && fmt == "f32")) yield {
      val vals = Array.tabulate(w * h * spp)(gen(_))
      val enc = MultimodalOps.encodeTiffRaster(w, h, spp, fmt, vals,
        lzw = comp == "lzw", predictor = pred, deflate = comp == "deflate")
      val dec = MultimodalOps.decodeTiffRaster(enc)
        .getOrElse(fail(s"round-trip decode failed: $fmt $comp pred=$pred"))
      assert((dec.width, dec.height, dec.bands, dec.fmt) == ((w, h, spp, fmt)),
        s"$fmt $comp pred=$pred")
      assert(dec.values.toSeq == vals.toSeq, s"$fmt $comp pred=$pred")
      enc
    }
    // the writer's exact bytes, pinned so a writer refactor stays identical
    assert(Sha256.hex(outs) == "813a112995aaf0ddfa58562c103d7f1dcde7c32841663aa1f8d40a90155f9677", Sha256.hex(outs))
  }

  test("lzw round-trips arbitrary byte streams across width boundaries") {
    var seed = 99L
    val noise = Array.tabulate(5000) { _ =>
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      (seed >>> 56).toByte
    } // ~5000 codes: crosses 9→10→11 bits
    val rt = MultimodalOps.lzwDecode(MultimodalOps.lzwEncode(noise), 0,
      MultimodalOps.lzwEncode(noise).length, noise.length)
    assert(rt.exists(_.sameElements(noise)))
    val repet = Array.tabulate(4000)(i => (i % 17).toByte)
    val enc = MultimodalOps.lzwEncode(repet)
    assert(enc.length < repet.length / 2, "compressible input must compress")
    assert(MultimodalOps.lzwDecode(enc, 0, enc.length, repet.length)
      .exists(_.sameElements(repet)))
  }

  test("lzw round-trips at EVERY stream-length alignment across the width boundaries") {
    // the EOI-at-boundary trap: a stream whose final flush code lands
    // exactly where the decoder widens (510/1022/2046 entries) desyncs
    // unless the encoder counts the decoder's phantom final add before
    // choosing EOI's width — sweep every alignment around all three
    var seed = 3L
    val base = Array.tabulate(2300) { _ =>
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      (seed >>> 56).toByte
    }
    val ranges = (200 until 600) ++ (950 until 1150) ++ (1950 until 2250)
    for (n <- ranges) {
      val pay = base.take(n)
      val enc = MultimodalOps.lzwEncode(pay)
      assert(MultimodalOps.lzwDecode(enc, 0, enc.length, n)
        .exists(_.sameElements(pay)), s"round-trip failed at length $n")
    }
  }

  test("corrupt compressed containers are refused, never thrown") {
    // truncated LZW stream
    val t1 = goldenLzwI16.dropRight(6)
    assert(MultimodalOps.decodeTiffRaster(t1).isEmpty)
    // flipped byte mid-stream: either decodes to wrong-size or hits a
    // bad code — both must map to None (size gate catches the rest)
    val t2 = goldenDeflateU16.clone(); t2(goldenDeflateU16.length - 10) =
      (t2(goldenDeflateU16.length - 10) ^ 0x5a).toByte
    assert(MultimodalOps.decodeTiffRaster(t2).isEmpty)
    // predictor=2 with float32 is spec-invalid → refused
    val enc = MultimodalOps.encodeTiffRaster(4, 2, 1, "f32",
      Array.tabulate(8)(_.toDouble), lzw = false, predictor = false)
    // patch Predictor entry (tag 317 = 0x013D, LE) value to 2
    val i = {
      var k = -1
      for (j <- 10 until enc.length - 12 by 12 // entries start after the count
           if (enc(j) & 0xff) == 0x3d && (enc(j + 1) & 0xff) == 0x01) k = j
      k
    }
    assert(i > 0, "predictor tag not found in writer output")
    val t3 = enc.clone(); t3(i + 8) = 2
    assert(MultimodalOps.decodeTiffRaster(t3).isEmpty,
      "float32 + predictor 2 must be refused")
    // LZW flag on a container whose strip data is NOT an LZW stream
    val raw = MultimodalOps.encodeTiffRaster(4, 2, 1, "u8",
      Array.tabulate(8)(_.toDouble), lzw = false, predictor = false)
    val j = {
      var k = -1
      for (m <- 10 until raw.length - 12 by 12
           if (raw(m) & 0xff) == 0x03 && (raw(m + 1) & 0xff) == 0x01) k = m
      k
    }
    assert(j > 0, "compression tag not found in writer output")
    val t4 = raw.clone(); t4(j + 8) = 5
    assert(MultimodalOps.decodeTiffRaster(t4).isEmpty,
      "raw pixels mis-tagged as LZW must be refused")
  }

  test("an IFD-last TIFF cut inside its IFD refuses instead of reading lost tags as absent") {
    // the layout encodeTiff and libtiff write: header, strip, then the
    // IFD; every entry is one inline SHORT and the given tag comes last
    def ifdLast(w: Int, bits: Int, strip: Array[Byte], lastTag: Int,
        lastValue: Int): Array[Byte] = {
      val entries = Seq((256, w), (257, 1), (258, bits), (259, 1), (262, 1),
        (273, 8), (277, 1), (279, strip.length), (lastTag, lastValue))
      val bb = java.nio.ByteBuffer.allocate(8 + strip.length + 2 + 12 * entries.size + 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('I'.toByte).put('I'.toByte).putShort(42.toShort)
        .putInt(8 + strip.length).put(strip).putShort(entries.size.toShort)
      for ((tag, v) <- entries)
        bb.putShort(tag.toShort).putShort(3.toShort).putInt(1).putInt(v)
      bb.putInt(0).array()
    }
    // uint8, Predictor=2 last: without it the differences read as pixels
    val pred = ifdLast(4, 8, Array[Byte](10, 1, 1, 1), 317, 2)
    assert(pred.length == 126)
    val p = MultimodalOps.decodeTiffRaster(pred).getOrElse(fail("predictor file refused"))
    assert(p.fmt == "u8" && p.values.toSeq == Seq(10.0, 11.0, 12.0, 13.0))
    // float32, SampleFormat=3 last: without it the words read as uint32
    val floats = Seq(1.5f, -2.25f, 0.0f, 7.0f)
    val fb = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    floats.foreach(fb.putFloat)
    val f32 = ifdLast(4, 32, fb.array(), 339, 3)
    val f = MultimodalOps.decodeTiffRaster(f32).getOrElse(fail("float file refused"))
    assert(f.fmt == "f32" && f.values.toSeq == floats.map(_.toDouble))
    // the last entry (and the next-IFD offset) cut off, or cut mid-entry
    for (good <- Seq(pred, f32); cut <- Seq(16, 10)) {
      assert(MultimodalOps.decodeTiffRaster(good.dropRight(cut)).isEmpty,
        s"${good.length}-byte file cut by $cut decoded")
    }
  }

  test("the reference's real GDAL GeoTIFFs decode against independently pinned stats") {
    // deflate-compressed tiled planar float32 (srtm), uncompressed
    // strips float32/uint8 — stats pinned from a from-scratch Python
    // zlib+struct decode (tools/fixtures docs). Guarded: cancels
    // where the reference checkout is absent.
    val cases = Seq(
      ("/root/reference/src/srtm.tif", 15, 13, 1, "f32", 894800L),
      ("/root/reference/src/srtm2.tif", 127, 106, 1, "f32", 67682196L),
      ("/root/reference/src/resampled_srtm.tif", 216, 216, 1, "f32", 212576471L),
      ("/root/reference/src/masque_classes.tif", 266, 258, 1, "u8", 235100L))
    assume(cases.forall(c => Files.exists(Paths.get(c._1))),
      "reference rasters not present")
    for ((path, w, h, bands, fmt, qsum100) <- cases) {
      val bytes = Files.readAllBytes(Paths.get(path))
      val r = MultimodalOps.decodeTiffRaster(bytes)
        .getOrElse(fail(s"$path failed to decode"))
      assert((r.width, r.height, r.bands, r.fmt) == ((w, h, bands, fmt)), path)
      val q = r.values.filter(v => !v.isNaN && !v.isInfinite)
        .map(v => math.floor(v * 100).toLong).sum
      assert(q == qsum100, s"$path quantized sum $q != $qsum100")
    }
  }

  test("the reference's real GDAL GeoTIFFs georeference against GDAL-pinned affines") {
    // ModelPixelScale / ModelTiepoint / GeoKey values pinned from an
    // independent Python struct walk of the same files (exact doubles
    // as stored — GDAL wrote them, we only read). All four are
    // EPSG:4326 pixel-is-area rasters.
    val cases = Seq(
      ("/root/reference/src/srtm.tif",
        0.0008084837557075694, 0.0008084837557075694,
        -14.639215364596959, 14.2163783603619),
      ("/root/reference/src/srtm2.tif",
        8.983152841195215e-5, 8.983152841195215e-5,
        -14.639035701540134, 14.216019034248252),
      ("/root/reference/src/resampled_srtm.tif",
        4.865874455647408e-5, 5.6144705257470096e-5,
        -14.639215364596959, 14.2163783603619),
      ("/root/reference/src/masque_classes.tif",
        8.983152841195215e-5, 8.983152841195215e-5,
        -16.354099241981125, 14.294621621608709))
    assume(cases.forall(c => Files.exists(Paths.get(c._1))),
      "reference rasters not present")
    for ((path, sx, sy, tx, ty) <- cases) {
      val bytes = Files.readAllBytes(Paths.get(path))
      val g = MultimodalOps.decodeTiffGeoref(bytes)
        .getOrElse(fail(s"$path georef failed to decode"))
      assert(g.scaleX == sx && g.scaleY == sy, s"$path scale $g")
      assert(g.tieCol == 0.0 && g.tieRow == 0.0, s"$path tiepoint raster $g")
      assert(g.tieX == tx && g.tieY == ty, s"$path tiepoint model $g")
      assert(g.epsg == 4326 && g.pixelIsArea, s"$path CRS keys $g")
      // rasterio center-coordinate convention: corner + half a pixel
      assert(g.pixelLon(0) == tx + 0.5 * sx, path)
      assert(g.pixelLat(0) == ty - 0.5 * sy, path)
    }
  }

  test("georef encode→decode round-trips exactly; ungeoreferenced rasters return None") {
    val vals = Array.tabulate(12)(i => (i * 7 % 50 - 25).toDouble)
    val g = MultimodalOps.TiffGeoref(0.001953125, 0.0009765625,
      0.0, 0.0, -17.25, 14.75, 4326, pixelIsArea = true)
    val enc = MultimodalOps.encodeTiffRaster(4, 3, 1, "i16", vals,
      lzw = true, predictor = true, georef = Some(g))
    // geo tags must not perturb the pixel decode
    val r = MultimodalOps.decodeTiffRaster(enc).getOrElse(fail("pixels"))
    assert(r.values.toSeq == vals.toSeq)
    val back = MultimodalOps.decodeTiffGeoref(enc).getOrElse(fail("georef"))
    assert(back == g, "georef round-trip drifted")
    assert(Sha256.hex(Seq(enc)) == "4a420952387f8ade8be472b1185f58fb365136b350053e34d9d3c4224218f149", Sha256.hex(Seq(enc)))
    // without georef the same raster parses pixels but refuses coords
    val bare = MultimodalOps.encodeTiffRaster(4, 3, 1, "i16", vals,
      lzw = true, predictor = true)
    assert(MultimodalOps.decodeTiffRaster(bare).isDefined)
    assert(MultimodalOps.decodeTiffGeoref(bare).isEmpty,
      "coordinates invented for an unreferenced raster")
  }

  test("readTiffGeoPixels lands per-pixel lon/lat rows; unreferenced tiles skipped") {
    val dir = Files.createTempDirectory("geopix").toString
    val vals = Array.tabulate(6)(i => i.toDouble)
    val g = MultimodalOps.TiffGeoref(0.25, 0.125, 0.0, 0.0, 10.0, 20.0, 4326, true)
    Files.write(Paths.get(dir, "tile_1.tif"),
      MultimodalOps.encodeTiffRaster(3, 2, 1, "i16", vals,
        lzw = false, predictor = false, georef = Some(g)))
    Files.write(Paths.get(dir, "tile_2.tif"),
      MultimodalOps.encodeTiffRaster(3, 2, 1, "i16", vals,
        lzw = false, predictor = false)) // no georef → skipped
    Files.write(Paths.get(dir, "bad.tif"), Array[Byte](1, 2, 3))
    val px = graft.sources.GeoIngest.tiffGeoPixels.read(spark, dir)
    val rows = px.collect().map(r => (r.getString(0), r.getInt(2), r.getInt(3),
      r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.length == 6, "one referenced 3x2 tile → 6 pixel rows")
    assert(rows.forall(_._1 == "tile_1"))
    val corner = rows.find(r => r._2 == 0 && r._3 == 0).get
    assert(corner._5 == 10.0 + 0.5 * 0.25 && corner._6 == 20.0 - 0.5 * 0.125)
    val far = rows.find(r => r._2 == 1 && r._3 == 2).get
    assert(far._5 == 10.0 + 2.5 * 0.25 && far._6 == 20.0 - 1.5 * 0.125)
    assert(far._4 == 5.0)
  }

  test("hostile bytes never throw: every truncation and flip, digest-pinned") {
    // both byte orders through the raster decoder, the deflate arm, and
    // a georeferenced container through the georef decoder
    val geo = MultimodalOps.encodeTiffRaster(4, 3, 1, "i16",
      Array.tabulate(12)(i => (i * 7 % 50 - 25).toDouble),
      lzw = true, predictor = true, georef = Some(MultimodalOps.TiffGeoref(
        0.001953125, 0.0009765625, 0.0, 0.0, -17.25, 14.75, 4326,
        pixelIsArea = true)))
    val d = Seq(
      FuzzDigest.sweep(goldenLzwI16)(MultimodalOps.decodeTiffRaster),
      FuzzDigest.sweep(goldenLzwF32be)(MultimodalOps.decodeTiffRaster),
      FuzzDigest.sweep(geo)(MultimodalOps.decodeTiffGeoref),
      FuzzDigest.sweep(goldenDeflateU16)(MultimodalOps.decodeTiffRaster))
    // a read past the end refuses: cuts inside the GeoKey directory and
    // flips that send the IFD or the directory past the end are None
    assert(d == Seq(
      "428/48:1d757e3402c1eb7b",
      "388/60:dc82024f628b92bd",
      "632/299:17fb8be824b98b72",
      "512/37:47dff08d1b0d1085"), d)
  }
}
