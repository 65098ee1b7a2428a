package graft

import graft.sources.BmpCodec

/** Contract specs for the BMP codec: depth/orientation coverage, the
  * RLE8 state machine, refusals, and never-throw under hostile bytes.
  * Per-pixel value grading vs the independent Python assembler runs
  * through the oracle-graded q_bmp_decode. */
class BmpCodecSpec extends SparkSpec {

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.base, "q_bmp_decode", name))

  test("24-bit bottom-up with stride padding decodes to top-down RGB") {
    val img = BmpCodec.decode(fixture("rgb24-00.bmp")).get
    assert(img.w == 5 && img.h == 4 && img.bpp == 24)
    // generator formula: r=(x*40+y)%256 g=(y*60+x)%256 b=(x²+y²)%256
    for (y <- 0 until 4; x <- 0 until 5) {
      val o = 3 * (y * 5 + x)
      assert((img.rgb(o) & 0xff) == (x * 40 + y) % 256, s"r $x,$y")
      assert((img.rgb(o + 1) & 0xff) == (y * 60 + x) % 256, s"g $x,$y")
      assert((img.rgb(o + 2) & 0xff) == (x * x + y * y) % 256, s"b $x,$y")
    }
  }

  test("indexed depths resolve BGRA palettes; top-down 32-bit ignores the X byte") {
    val pal8 = BmpCodec.decode(fixture("pal8-01.bmp")).get
    assert(pal8.w == 7 && pal8.h == 3)
    // idx (x*3+y*5)%16; palette r=(i*17)%256
    val i00 = 0
    assert((pal8.rgb(0) & 0xff) == (i00 * 17) % 256)
    val i21 = (2 * 3 + 1 * 5) % 16
    assert((pal8.rgb(3 * (1 * 7 + 2)) & 0xff) == (i21 * 17) % 256)
    val mono = BmpCodec.decode(fixture("mono-02.bmp")).get
    assert(mono.w == 11 && mono.h == 5)
    assert((mono.rgb(0) & 0xff) == 10) // (0+0)%2=0 → (10,20,30)
    assert((mono.rgb(3) & 0xff) == 240) // (1+0)%2=1
    val rgb32 = BmpCodec.decode(fixture("rgb32-03.bmp")).get
    assert(rgb32.w == 4 && rgb32.h == 4 && rgb32.bpp == 32)
    assert((rgb32.rgb(3 * (2 * 4 + 3)) & 0xff) == (3 * 63) % 256)
  }

  test("RLE8: runs, absolute, delta over background, early EOL, EOB") {
    val img = BmpCodec.decode(fixture("rle8-04.bmp")).get
    assert(img.w == 10 && img.h == 4)
    def r(y: Int, x: Int): Int = img.rgb(3 * (y * 10 + x)) & 0xff
    def pal(i: Int): Int = (i * 17) % 256
    assert(r(3, 0) == pal(5) && r(3, 5) == pal(5)) // run
    assert(r(3, 6) == pal(1) && r(3, 8) == pal(3)) // absolute
    assert(r(3, 9) == pal(0)) // beyond written: background
    assert(r(2, 0) == pal(0) && r(2, 3) == pal(7)) // delta skip
    assert(r(1, 0) == pal(15) && r(1, 9) == pal(15)) // full run
    assert(r(0, 0) == pal(0)) // empty top row: background
  }

  test("refusals: truncation, BI_BITFIELDS, 16-bit, bad magic, zero dims") {
    assert(BmpCodec.decode(fixture("trunc-05.bmp")).isEmpty)
    assert(BmpCodec.decode(fixture("bitfields-06.bmp")).isEmpty)
    assert(BmpCodec.decode(Array.emptyByteArray).isEmpty)
    assert(BmpCodec.decode("BMnot really a bitmap header".getBytes).isEmpty)
    val bad16 = fixture("rgb24-00.bmp").clone()
    bad16(28) = 16
    assert(BmpCodec.decode(bad16).isEmpty)
    val zw = fixture("rgb24-00.bmp").clone()
    zw(18) = 0; zw(19) = 0; zw(20) = 0; zw(21) = 0
    assert(BmpCodec.decode(zw).isEmpty)
    // negative pixel-data offset: the 24-bit branch reads raw, so the
    // header gate must refuse (review finding — was an AIOOBE escape)
    val neg = fixture("rgb24-00.bmp").clone()
    neg(10) = 0xf0.toByte; neg(11) = -1; neg(12) = -1; neg(13) = -1
    assert(BmpCodec.decode(neg).isEmpty)
  }

  test("hostile bytes never throw: truncations and single-byte fuzz") {
    val fz = new FuzzDigest
    for (name <- Seq("rgb24-00.bmp", "rle8-04.bmp", "mono-02.bmp")) {
      val good = fixture(name)
      (0 until good.length by 3).foreach(k => fz.add(BmpCodec.decode(good.take(k))))
      var j = 0
      while (j < good.length) {
        val m = good.clone(); m(j) = (m(j) ^ 0x6b).toByte
        fz.add(BmpCodec.decode(m))
        j += 1
      }
    }
    assert(fz.hex == "460/240:1618a1e1f9a8e4ac", fz.hex)
  }

  test("distributed ingest: per-pixel rows, corrupt files skipped") {
    val df = graft.sources.GeoIngest.bmp.read(
      spark, graft.Fixtures.path("q_bmp_decode"))
    val byFile = df.groupBy("file").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byFile == Map(
      "rgb24-00.bmp" -> 20L, "pal8-01.bmp" -> 21L, "mono-02.bmp" -> 55L,
      "rgb32-03.bmp" -> 16L, "rle8-04.bmp" -> 40L, "pal4-07.bmp" -> 15L))
  }

  test("4-bit nibble packing decodes high-nibble-first with odd width") {
    val img = BmpCodec.decode(fixture("pal4-07.bmp")).get
    assert(img.w == 5 && img.h == 3 && img.bpp == 4)
    // idx (x*2 + y*7) % 16, palette r = (i*17)%256
    for (y <- 0 until 3; x <- 0 until 5) {
      val i = (x * 2 + y * 7) % 16
      assert((img.rgb(3 * (y * 5 + x)) & 0xff) == (i * 17) % 256, s"$x,$y")
    }
  }
}
