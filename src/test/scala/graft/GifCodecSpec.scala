package graft

import graft.sources.GifCodec

/** Contract specs for the GIF codec: the LZW variable-width decode
  * (growth rule, mid-stream clear, kwkwk), interlace reorder, palette
  * resolution, the refusal contract, and never-throw under hostile
  * bytes. Fixtures come from the independent from-scratch Python
  * encoder (tools/gif_golden.py); per-pixel value grading runs
  * through the oracle-graded q_gif_decode. */
class GifCodecSpec extends SparkSpec {

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.base, "q_gif_decode", name))

  test("animation: two frames, canvas offsets, exact palette pixels") {
    val fs = GifCodec.decode(fixture("anim-00.gif")).get
    assert(fs.map(f => (f.idx, f.w, f.h, f.left, f.top)) ==
      Vector((0, 10, 8, 0, 0), (1, 5, 4, 2, 1)))
    val f0 = fs.head
    // index pattern (x*3 + y*5) % 8 over the 8-color palette
    def px(y: Int, x: Int): (Int, Int, Int) = {
      val o = 3 * (y * f0.w + x)
      (f0.rgb(o) & 0xff, f0.rgb(o + 1) & 0xff, f0.rgb(o + 2) & 0xff)
    }
    assert(px(0, 0) == ((0, 0, 0)))
    assert(px(1, 2) == ((0, 0, 255))) // index 3
    assert(px(0, 1) == ((0, 0, 255))) // index 3
  }

  test("interlaced GIF87a frame deinterlaces to row order") {
    val f = GifCodec.decode(fixture("interlace-01.gif")).get.head
    assert(f.interlaced && f.w == 16 && f.h == 16)
    // pattern (x*x + 7y) % 4 over PAL4 — row 1 only arrives in pass 4
    val pal = Vector((10, 20, 30), (200, 100, 50), (0, 128, 255), (255, 255, 255))
    for (x <- 0 until 16) {
      val o = 3 * (1 * 16 + x)
      assert((f.rgb(o) & 0xff, f.rgb(o + 1) & 0xff, f.rgb(o + 2) & 0xff)
        == pal((x * x + 7) % 4), s"x=$x")
    }
  }

  test("local palette overrides global; extensions are skipped") {
    val f = GifCodec.decode(fixture("local-02.gif")).get.head
    val o = 3 * (0 * 7 + 1) // index (1*0+1+0)%6 = 1 -> (250,240,230)
    assert((f.rgb(o) & 0xff, f.rgb(o + 1) & 0xff, f.rgb(o + 2) & 0xff)
      == ((250, 240, 230)))
  }

  test("stress frame fills the dictionary and survives the mid-stream clear") {
    val f = GifCodec.decode(fixture("stress-03.gif")).get.head
    assert(f.w == 128 && f.h == 96)
    // reproduce the generator's LCG and check every pixel
    val pal = Vector((0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255),
      (255, 255, 0), (0, 255, 255), (255, 0, 255), (255, 255, 255))
    var state = 12345L
    var i = 0
    while (i < 128 * 96) {
      state = (state * 1103515245L + 12345L) & 0x7fffffffL
      val ci = ((state >> 16) % 8).toInt
      val o = 3 * i
      assert((f.rgb(o) & 0xff, f.rgb(o + 1) & 0xff, f.rgb(o + 2) & 0xff)
        == pal(ci), s"pixel $i")
      i += 1
    }
  }

  test("refusals: truncation, out-of-range code, bad magic, no palette") {
    assert(GifCodec.decode(fixture("corrupt-04.gif")).isEmpty)
    assert(GifCodec.decode(fixture("badcode-05.gif")).isEmpty)
    assert(GifCodec.decode(Array.emptyByteArray).isEmpty)
    assert(GifCodec.decode("GIF10a nope".getBytes).isEmpty)
    // strip the global-color-table flag: frame has no palette anywhere
    val g = fixture("anim-00.gif").clone()
    g(10) = (g(10) & 0x7f).toByte
    assert(GifCodec.decode(g).isEmpty)
  }

  test("hostile bytes never throw: truncations and single-byte fuzz") {
    val good = fixture("anim-00.gif")
    val fz = new FuzzDigest
    (0 until good.length).foreach(k => fz.add(GifCodec.decode(good.take(k))))
    var j = 0
    while (j < good.length) {
      val m = good.clone(); m(j) = (m(j) ^ 0x2d).toByte
      fz.add(GifCodec.decode(m))
      j += 1
    }
    val il = fixture("interlace-01.gif")
    j = 0
    while (j < il.length) {
      val m = il.clone(); m(j) = 0x55
      fz.add(GifCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "298/72:88128b3ab7d3fe54", fz.hex)
  }

  test("encoder round-trips through the decoder, including a dictionary-full stream") {
    val pal = Array.tabulate(8 * 3)(j => ((j * 31 + 5) % 256).toByte)
    // patterned frame
    val idx = Array.tabulate(20 * 9)(k => ((k * 7 + k / 20) % 8).toByte)
    val enc = GifCodec.encode(20, 9, pal, idx)
    val f = GifCodec.decode(enc).get.head
    assert(f.w == 20 && f.h == 9)
    for (k <- idx.indices; c <- 0 to 2)
      assert(f.rgb(3 * k + c) == pal(3 * (idx(k) & 0xff) + c), s"k=$k c=$c")
    // pseudo-random frame large enough to fill the dictionary: the
    // encoder must emit a mid-stream CLEAR the decoder survives
    var st = 99L
    val big = Array.tabulate(160 * 120) { _ =>
      st = (st * 1103515245L + 12345L) & 0x7fffffffL
      ((st >> 16) % 8).toByte
    }
    val enc2 = GifCodec.encode(160, 120, pal, big)
    val f2 = GifCodec.decode(enc2).get.head
    var ok = true
    for (k <- big.indices)
      ok &&= f2.rgb(3 * k) == pal(3 * (big(k) & 0xff))
    assert(ok)
    // empty-ish and single-color frames
    val flat = GifCodec.encode(4, 3, pal, Array.fill(12)(5.toByte))
    assert(GifCodec.decode(flat).get.head.rgb(0) == pal(15))
    // u16 dimension fields: oversize must fail fast, not wrap to w=0
    intercept[IllegalArgumentException] {
      GifCodec.encode(65536, 1, pal, new Array[Byte](65536))
    }
  }

  test("streams ending exactly on a width boundary round-trip (END-code width)") {
    // sweep lengths of text-like repetitive data so some stream's final
    // dictionary add lands exactly on the 2^cs line — the case where a
    // naive encoder writes END one bit narrow (found via corpus doc 57)
    val pal = Array.tabulate(16 * 3)(j => ((j * 13 + 1) % 256).toByte)
    for (n <- 1 to 600) {
      val idx = Array.tabulate(n)(k => ((k / 5 + k % 3) % 16).toByte)
      val w = n
      val enc = GifCodec.encode(w, 1, pal, idx)
      val dec = GifCodec.decode(enc)
      assert(dec.nonEmpty, s"n=$n refused")
      val f = dec.get.head
      for (k <- idx.indices)
        assert(f.rgb(3 * k) == pal(3 * (idx(k) & 0xff)), s"n=$n k=$k")
    }
  }

  private def frameFixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.base, "q_gif_frames", name))

  private def px(f: GifCodec.CanvasFrame, y: Int, x: Int): (Int, Int, Int, Int) = {
    val o = 4 * (y * f.w + x)
    (f.rgba(o) & 0xff, f.rgba(o + 1) & 0xff, f.rgba(o + 2) & 0xff,
      f.rgba(o + 3) & 0xff)
  }

  test("composite: do-not-dispose, transparency holes, restore-to-background") {
    val fs = GifCodec.composite(frameFixture("dispose-00.gif")).get
    assert(fs.map(f => (f.idx, f.w, f.h)) ==
      Vector((0, 10, 8), (1, 10, 8), (2, 10, 8), (3, 10, 8)))
    // frame 0 paints the full canvas: base idx (x*5 + y*3) % 8
    assert(px(fs(0), 0, 0) == ((0, 0, 0, 255)))
    assert(px(fs(0), 2, 3) == ((0, 255, 255, 255))) // idx 5
    // frame 1 rect at (2,1) 5x4, idx (lx + 2*ly) % 5, transparent = 3:
    // lx=3,ly=0 is the hole — base idx (5*5+3)%8=4 shows through
    assert(px(fs(1), 1, 5) == ((255, 255, 0, 255)))
    assert(px(fs(1), 1, 2) == ((0, 0, 0, 255))) // painted idx 0
    // frame 2's restore-to-BACKGROUND rect at (6,4) 3x3 is visible in
    // its OWN snapshot (idx (lx*ly+6)%8 = 6 at origin)...
    assert(px(fs(2), 4, 6) == ((255, 0, 255, 255)))
    // ...but transparent in frame 3's; frame 3 paints (0,6) 4x2 idx 1
    assert(px(fs(3), 4, 6) == ((0, 0, 0, 0)))
    assert(px(fs(3), 6, 0) == ((255, 0, 0, 255)))
    // and frame 1's paint persists (disposal 1 = do not dispose)
    assert(px(fs(3), 1, 5) == ((255, 255, 0, 255)))
  }

  test("composite: restore-to-previous rolls the canvas back") {
    val fs = GifCodec.composite(frameFixture("dispose-01.gif")).get
    assert(fs.length == 3 && fs.forall(f => f.w == 8 && f.h == 6))
    // frame 1 rect (3,2) 4x4 idx (lx*3+ly*5)%4, transparent = 0:
    // lx=1,ly=1 is a hole (base idx (4*2+3)%8=3); lx=2,ly=0 paints idx 2
    assert(px(fs(1), 3, 4) == ((0, 0, 255, 255)))
    assert(px(fs(1), 2, 5) == ((0, 255, 0, 255)))
    // frame 2: frame 1's rect has VANISHED (restored to frame 0,
    // base idx (5*2+2)%8=4 at (2,5)); frame 2 paints (0,0) 2x2 idx 2
    assert(px(fs(2), 2, 5) == ((255, 255, 0, 255)))
    assert(px(fs(2), 0, 0) == ((0, 255, 0, 255)))
  }

  test("composite: partial first frame keeps an alpha-0 border; interlaced delta") {
    val fs = GifCodec.composite(frameFixture("dispose-02.gif")).get
    assert(fs.length == 2 && fs.forall(f => f.w == 12 && f.h == 9))
    assert(px(fs(0), 0, 0) == ((0, 0, 0, 0))) // never painted
    assert(px(fs(1), 0, 0) == ((0, 0, 0, 0))) // still never painted
    assert(px(fs(1), 8, 5) == ((0, 0, 0, 0))) // y=8 outside both rects
    // frame 1 (interlaced, LOCAL palette) at (2,0): canvas (2,3) is
    // local (lx=1, ly=2) -> idx (7+4)%6 = 5 -> LOCAL[5] = (0,0,1)
    assert(px(fs(1), 2, 3) == ((0, 0, 1, 255)))
  }

  test("composite refusals: off-screen rect, reserved disposal; decode unaffected") {
    val off = frameFixture("offscreen-03.gif")
    assert(GifCodec.composite(off).isEmpty, "off-screen rect must refuse")
    assert(GifCodec.decode(off).nonEmpty, "decode has no canvas contract")
    // reserved disposal method 4: flip dispose-00's first GCE
    val g = frameFixture("dispose-00.gif").clone()
    val gceAt = g.indexOfSlice(Array[Byte](0x21, 0xf9.toByte, 0x04))
    assert(gceAt > 0)
    g(gceAt + 3) = (4 << 2).toByte
    assert(GifCodec.composite(g).isEmpty, "reserved disposal must refuse")
    assert(GifCodec.decode(g).nonEmpty)
  }

  test("composite never throws under truncation and single-byte fuzz") {
    val good = frameFixture("dispose-00.gif")
    val fz = new FuzzDigest
    (0 until good.length).foreach(k => fz.add(GifCodec.composite(good.take(k))))
    var j = 0
    while (j < good.length) {
      val m = good.clone(); m(j) = (m(j) ^ 0x4b).toByte
      fz.add(GifCodec.composite(m))
      j += 1
    }
    assert(fz.hex == "300/46:f09b340179dbfc47", fz.hex)
  }

  test("distributed canvas ingest: full-canvas rows, refused files absent") {
    val df = graft.sources.GeoIngest.gifCanvases.read(
      spark, graft.Fixtures.path("q_gif_frames"))
    val byFile = df.groupBy("file").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byFile == Map(
      "dispose-00.gif" -> 4L * 10 * 8,
      "dispose-01.gif" -> 3L * 8 * 6,
      "dispose-02.gif" -> 2L * 12 * 9)) // offscreen-03 refused
  }

  test("distributed ingest: per-pixel rows at canvas coords, corrupt files skipped") {
    val df = graft.sources.GeoIngest.gif.read(
      spark, graft.Fixtures.path("q_gif_decode"))
    val byFile = df.groupBy("file").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byFile == Map(
      "anim-00.gif" -> (80L + 20L),
      "interlace-01.gif" -> 256L,
      "local-02.gif" -> 42L,
      "stress-03.gif" -> 12288L))
    // offset frame lands at canvas coords
    import org.apache.spark.sql.functions.{col, min}
    val r = df.filter(col("file") === "anim-00.gif" && col("frame") === 1)
      .agg(min("y"), min("x")).head
    assert(r.getInt(0) == 1 && r.getInt(1) == 2)
  }
}
