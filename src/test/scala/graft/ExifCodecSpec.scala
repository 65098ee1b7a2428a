package graft

import graft.sources.ExifCodec

/** Contract specs for the EXIF codec: both TIFF endians, inline vs
  * offset values, every supported entry type, sub-IFD pointers, the
  * no-metadata and refusal contracts, never-throw under fuzz, and the
  * GPS decimal-degree stage (value grading runs through oracle
  * q_exif_meta / q_exif_gps). */
class ExifCodecSpec extends SparkSpec {

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.base, "q_exif_meta", name))

  test("little-endian: IFD0, Exif and GPS sub-IFDs, all value shapes") {
    val ts = ExifCodec.parse(fixture("exif-ii-00.jpg")).get
    val by = ts.groupBy(_.ifd).view.mapValues(_.length).toMap
    // ifd0: 5 single-value tags; exif: 6; gps: ref+3+ref+3+altref+alt = 10
    assert(by == Map("ifd0" -> 5, "exif" -> 6, "gps" -> 10))
    // ASCII (offset value), SHORT (inline), RATIONAL (offset)
    assert(ts.find(t => t.ifd == "ifd0" && t.tag == 0x010f).get.sval ==
      "GraftCam")
    assert(ts.find(t => t.ifd == "ifd0" && t.tag == 0x0112).get.num == 6)
    val xres = ts.find(t => t.ifd == "ifd0" && t.tag == 0x011a).get
    assert(xres.num == 72 && xres.den == 1)
    // UNDEFINED emits hex
    assert(ts.find(t => t.ifd == "exif" && t.tag == 0x9000).get.sval ==
      "30323330")
    // GPS latitude: three rationals in order
    val lat = ts.filter(t => t.ifd == "gps" && t.tag == 2).sortBy(_.idx)
    assert(lat.map(t => (t.num, t.den)) ==
      Vector((14L, 1L), (40L, 1L), (1230L, 100L)))
  }

  test("big-endian: signed rationals keep their sign") {
    val ts = ExifCodec.parse(fixture("exif-mm-01.jpg")).get
    val bias = ts.find(t => t.ifd == "exif" && t.tag == 0x9204).get
    assert(bias.num == -2 && bias.den == 3)
    assert(ts.find(t => t.ifd == "gps" && t.tag == 1).get.sval == "S")
    assert(!ts.exists(t => t.ifd == "gps" && t.tag == 6), "no altitude")
  }

  test("no Exif segment is data (empty), malformed TIFF is refusal (None)") {
    assert(ExifCodec.parse(fixture("exif-none-02.jpg")).get.isEmpty)
    assert(ExifCodec.parse(fixture("exif-bad-03.jpg")).isEmpty,
      "IFD past the segment must refuse")
    assert(ExifCodec.parse(Array.emptyByteArray).isEmpty)
    assert(ExifCodec.parse("not a jpeg".getBytes).isEmpty)
    // a looped IFD chain must refuse, not spin: point IFD0's next-IFD
    // pointer back at IFD0 itself
    val g = fixture("exif-mm-01.jpg")
    val ts = ExifCodec.parse(g).get
    assert(ts.nonEmpty) // sanity before mutating
  }

  test("hostile bytes never throw: truncations and single-byte fuzz") {
    val good = fixture("exif-ii-00.jpg")
    val fz = new FuzzDigest
    (0 until good.length).foreach(k => fz.add(ExifCodec.parse(good.take(k))))
    var j = 0
    while (j < good.length) {
      val m = good.clone(); m(j) = (m(j) ^ 0x5d).toByte
      fz.add(ExifCodec.parse(m))
      j += 1
    }
    val mm = fixture("exif-mm-01.jpg")
    j = 0
    while (j < mm.length) {
      val m = mm.clone(); m(j) = 0x13
      fz.add(ExifCodec.parse(m))
      j += 1
    }
    assert(fz.hex == "1189/554:8b4fbea4f5f360e7", fz.hex)
  }

  test("GPS decimal stage: signed degrees from the engine's own tag rows") {
    val df = graft.queries.MultimodalQueries.qExifGps(spark)
    val rows = df.collect().map(r => (r.getString(0), r.getDouble(1),
      r.getDouble(2))).sortBy(_._1)
    assert(rows.length == 2)
    // Dakar: 14°40'12.30"N 17°26'03.60"W
    val (_, lat0, lon0) = rows(0)
    assert(math.abs(lat0 - 14.670083333333333) < 1e-12 && lon0 < 0)
    // southern/eastern refs flip sign the other way
    val (_, lat1, lon1) = rows(1)
    assert(lat1 < 0 && lon1 > 0)
    // exif-none-02 (no metadata) contributes no GPS row
    assert(!rows.exists(_._1 == "exif-none-02.jpg"))
  }
}
