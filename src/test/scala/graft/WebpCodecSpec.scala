package graft

import graft.sources.WebpCodec

/** Contract specs for the WebP container codec: RIFF framing with
  * odd-size padding, the three header forms (VP8 sync + 14-bit dims,
  * VP8L bitfields, VP8X flags + u24 canvas), ANMF frame tables,
  * embedded-EXIF GPS through the shared TIFF walk, the refusal
  * contract, and never-throw under fuzz. Value grading runs through
  * oracle q_webp_meta. */
class WebpCodecSpec extends SparkSpec {

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.base, "q_webp_meta", name))

  private def canvas(ms: Vector[WebpCodec.Meta], k: String): Long =
    ms.find(m => m.kind == "canvas" && m.key == k).get.num

  test("bare VP8 and VP8L headers yield dims, alpha, format") {
    val lossy = WebpCodec.decode(fixture("lossy-00.webp")).get
    assert(canvas(lossy, "width") == 160 && canvas(lossy, "height") == 120)
    assert(canvas(lossy, "alpha") == 0 && canvas(lossy, "anim") == 0)
    assert(lossy.find(_.key == "format").get.sval == "VP8")
    val ll = WebpCodec.decode(fixture("lossless-01.webp")).get
    assert(canvas(ll, "width") == 31 && canvas(ll, "height") == 17)
    assert(canvas(ll, "alpha") == 1)
    assert(ll.find(_.key == "format").get.sval == "VP8L")
  }

  test("VP8X animation: canvas, loop count, frame table, EXIF GPS") {
    val ms = WebpCodec.decode(fixture("anim-02.webp")).get
    assert(canvas(ms, "width") == 320 && canvas(ms, "height") == 240)
    assert(canvas(ms, "alpha") == 1 && canvas(ms, "anim") == 1)
    assert(ms.find(_.kind == "anim").get.num == 3)
    val f1 = ms.filter(m => m.kind == "frame" && m.idx == 1)
      .map(m => m.key -> m.num).toMap
    assert(f1 == Map("x" -> 16L, "y" -> 8L, "width" -> 64L,
      "height" -> 48L, "duration_ms" -> 120L, "dispose" -> 1L))
    // top-level chunk inventory in order
    assert(ms.filter(_.kind == "chunk").map(_.key) ==
      Vector("VP8X", "ANIM", "ANMF", "ANMF", "EXIF"))
    // the embedded EXIF's GPS surfaces (image PII)
    val gps = ms.filter(_.kind == "exif_gps").map(m => m.key ->
      (m.num, m.sval)).toMap
    assert(gps("lat_deg") == ((48L, null)) && gps("lat_ref")._2 == "N")
    assert(gps("lon_deg") == ((2L, null)) && gps("lon_ref")._2 == "E")
  }

  test("refusals: chunk past EOF, broken VP8 sync, bad magic") {
    assert(WebpCodec.decode(fixture("trunc-03.webp")).isEmpty)
    assert(WebpCodec.decode(fixture("badsync-04.webp")).isEmpty)
    assert(WebpCodec.decode(Array.emptyByteArray).isEmpty)
    assert(WebpCodec.decode("RIFFxxxxWAVE".getBytes).isEmpty)
  }

  test("hostile bytes never throw: truncations and single-byte fuzz") {
    val good = fixture("anim-02.webp")
    val fz = new FuzzDigest
    (0 until good.length).foreach(k => fz.add(WebpCodec.decode(good.take(k))))
    var j = 0
    while (j < good.length) {
      val m = good.clone(); m(j) = (m(j) ^ 0x66).toByte
      fz.add(WebpCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "616/219:ba6ee5a153c29aef", fz.hex)
  }

  test("distributed ingest: refused files absent") {
    val df = graft.sources.GeoIngest.webp.read(
      spark, graft.Fixtures.path("q_webp_meta"))
    val files = df.select("file").distinct().collect()
      .map(_.getString(0)).toSet
    assert(files == Set("lossy-00.webp", "lossless-01.webp",
      "anim-02.webp"))
  }
}
