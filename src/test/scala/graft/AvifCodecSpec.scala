package graft

import graft.sources.AvifCodec

/** Contract specs for the AVIF/HEIF metadata codec: the meta box
  * walk (pitm/iinf/iloc/iprp), iloc v0 and v1+base_offset,
  * multi-extent items with concatenated md5s, ispe-through-ipma
  * canvas resolution, embedded-EXIF GPS, refusals, and never-throw
  * under fuzz. Value grading runs through oracle q_avif_meta. */
class AvifCodecSpec extends SparkSpec {

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.base, "q_avif_meta", name))

  test("primary item, canvas via ipma, two-extent md5, EXIF GPS") {
    val ms = AvifCodec.decode(fixture("photo-00.avif")).get
    assert(ms.find(_.kind == "primary").get.num == 1)
    def canvas(k: String) =
      ms.find(m => m.kind == "canvas" && m.key == k).get.num
    assert(canvas("width") == 1280 && canvas("height") == 720)
    // av01 item total = sum of its TWO extents
    assert(ms.find(m => m.kind == "item" && m.key == "av01").get.num == 444)
    assert(ms.exists(m => m.kind == "extent_md5" && m.key == "av01" &&
      m.sval.length == 32))
    val gps = ms.filter(_.kind == "exif_gps").map(m => m.key ->
      (m.num, m.sval)).toMap
    assert(gps("lat_deg")._1 == 35 && gps("lat_ref")._2 == "N")
    assert(gps("lon_deg")._1 == 139 && gps("lon_ref")._2 == "E")
  }

  test("iloc v1 with base_offset resolves absolute extents") {
    val ms = AvifCodec.decode(fixture("alpha-01.avif")).get
    val items = ms.filter(_.kind == "item")
    assert(items.map(m => (m.idx, m.num)).toSet == Set((1, 200L), (2, 90L)))
    def canvas(k: String) =
      ms.find(m => m.kind == "canvas" && m.key == k).get.num
    assert(canvas("width") == 64 && canvas("height") == 64)
  }

  test("infe version 3 carries a u32 item id with item_type shifted by 2") {
    // round-15 advice: v3 was read with the v2 layout (u16 id at +4),
    // misparsing id and type
    val ms = AvifCodec.decode(fixture("v3ids-03.avif")).get
    assert(ms.find(_.kind == "primary").get.num == 41)
    assert(ms.find(m => m.kind == "item" && m.key == "av01")
      .exists(m => m.idx == 41 && m.num == 150))
    def canvas(k: String) =
      ms.find(m => m.kind == "canvas" && m.key == k).get.num
    assert(canvas("width") == 32 && canvas("height") == 32)
  }

  test("refusals: extent past EOF, bad magic") {
    assert(AvifCodec.decode(fixture("trunc-02.avif")).isEmpty)
    assert(AvifCodec.decode(Array.emptyByteArray).isEmpty)
    assert(AvifCodec.decode("not an avif at all".getBytes).isEmpty)
  }

  test("hostile bytes never throw: truncations and single-byte fuzz") {
    val good = fixture("photo-00.avif")
    val fz = new FuzzDigest
    (0 until good.length by 2).foreach(k => fz.add(AvifCodec.decode(good.take(k))))
    var j = 0
    while (j < good.length) {
      val m = good.clone(); m(j) = (m(j) ^ 0x2b).toByte
      fz.add(AvifCodec.decode(m))
      j += 1
    }
    val a1 = fixture("alpha-01.avif")
    j = 0
    while (j < a1.length) {
      val m = a1.clone(); m(j) = 0x63
      fz.add(AvifCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "1885/1156:15d9f07732ec2de0", fz.hex)
  }

  test("distributed ingest: refused files absent") {
    val df = graft.sources.GeoIngest.avif.read(
      spark, graft.Fixtures.path("q_avif_meta"))
    val files = df.select("file").distinct().collect()
      .map(_.getString(0)).toSet
    assert(files == Set("photo-00.avif", "alpha-01.avif", "v3ids-03.avif"))
  }
}
