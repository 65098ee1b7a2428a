package graft.sources

import Bytes._

/** EXIF metadata codec — image-side PII curation: crawled JPEGs carry
  * camera metadata in an APP1 `Exif` segment (a TIFF 6.0 IFD tree),
  * and the GPS sub-IFD inside it is personal data a corpus pipeline
  * must surface before training (the image-side counterpart of the
  * text PII scrubbers in TextQueries). Orientation (tag 0x0112) also
  * feeds the decode path — a vision pipeline that ignores it trains
  * on rotated images.
  *
  * Walk: JPEG marker segments up to SOS/EOI; the first APP1 whose
  * payload starts `Exif\0\0` holds a TIFF block — byte order II/MM,
  * magic 42, IFD0, the EXIF (0x8769) and GPS (0x8825) sub-IFD
  * pointers, the next-IFD chain (thumbnail IFD1). Entry types: BYTE,
  * ASCII (NUL-stripped), SHORT, LONG, RATIONAL, UNDEFINED (emitted as
  * hex), SLONG, SRATIONAL; values over 4 bytes live at TIFF-relative
  * offsets. Every read is bounds-checked against the APP1 segment —
  * never the whole file.
  *
  * Contract: a JPEG with no Exif APP1 yields Some(empty) — absence of
  * metadata is data; a malformed TIFF block (bad magic, entry table
  * past the segment, looped IFD chain, count over [[MaxValues]])
  * refuses the whole file (None), the [[GzipCodec]] discipline.
  * Unknown entry TYPES are skipped per the TIFF forward-compat rule.
  * Never throws. */
object ExifCodec {

  /** One tag value: `ifd` ∈ ifd0/exif/gps/ifd1…; rationals carry
    * num/den (den=1 for integral types); ASCII and UNDEFINED carry
    * sval (UNDEFINED as lowercase hex) with num=den=0. */
  case class Tag(ifd: String, tag: Int, ttype: Int, idx: Int,
      num: Long, den: Long, sval: String)

  val MaxValues: Int = 65536
  val MaxIfds: Int = 16

  def parse(jpeg: Array[Byte]): Option[Vector[Tag]] =
    refusing(run(jpeg))

  /** The bare TIFF IFD walk over a standalone block — WebP's EXIF
    * chunk carries the TIFF bytes with no `Exif\0\0` prefix. */
  def parseTiff(block: Array[Byte]): Option[Vector[Tag]] =
    refusing(tiffWalk(block))

  private def run(b: Array[Byte]): Vector[Tag] = {
    if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) refuse()
    // marker walk for the Exif APP1
    var p = 2
    var tiffAt = -1
    var tiffEnd = -1
    var done = false
    while (!done && tiffAt < 0) {
      if (u8(b, p) != 0xff) refuse()
      val m = u8(b, p + 1)
      if (m == 0xd9 || m == 0xda) done = true // EOI / SOS: no metadata
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) p += 2 // bare markers
      else {
        val len = be16(b, p + 2)
        if (len < 2 || p + 2 + len > b.length) refuse()
        if (m == 0xe1 && len >= 8 + 6 &&
            b(p + 4) == 'E' && b(p + 5) == 'x' && b(p + 6) == 'i' &&
            b(p + 7) == 'f' && b(p + 8) == 0 && b(p + 9) == 0) {
          tiffAt = p + 10
          tiffEnd = p + 2 + len
        }
        p += 2 + len
      }
    }
    if (tiffAt < 0) return Vector.empty
    tiffWalk(java.util.Arrays.copyOfRange(b, tiffAt, tiffEnd))
  }

  /** TIFF IFD tree in block `t` (its own slice, so every offset is
    * relative to the TIFF header and bounded by the block) → tag rows.
    * Refuses via Bytes. */
  private def tiffWalk(t: Array[Byte]): Vector[Tag] = {
    if (t.length < 8) refuse()
    val le = (u8(t, 0), u8(t, 1)) match {
      case ('I', 'I') => true
      case ('M', 'M') => false
      case _ => refuse()
    }

    if (u16(t, 2, le) != 42) refuse()
    val out = Vector.newBuilder[Tag]
    var emitted = 0
    val seen = new java.util.HashSet[Long]()
    var nIfds = 0

    def typeSize(t: Int): Int = t match {
      case 1 | 2 | 7 => 1
      case 3 => 2
      case 4 | 9 => 4
      case 5 | 10 => 8
      case _ => 0 // unknown: skipped
    }

    def parseIfd(off0: Long, name: String): Unit = {
      if (off0 == 0) return
      if (!seen.add(off0) || nIfds >= MaxIfds) refuse() // loop / bomb
      nIfds += 1
      val n = u16(t, off0, le)
      if (off0 + 2 + n * 12L + 4 > t.length) refuse()
      var i = 0
      var exifPtr = 0L
      var gpsPtr = 0L
      while (i < n) {
        val e = off0 + 2 + i * 12L
        val tag = u16(t, e, le)
        val ttype = u16(t, e + 2, le)
        val count = u32(t, e + 4, le)
        val sz = typeSize(ttype)
        if (sz > 0) {
          if (count > MaxValues || emitted + count > MaxValues) refuse()
          val byteLen = count * sz
          val vAt = if (byteLen <= 4) e + 8 else u32(t, e + 8, le)
          if (vAt + byteLen > t.length) refuse()
          if (name == "ifd0" && tag == 0x8769 && ttype == 4 && count == 1)
            exifPtr = u32(t, vAt, le)
          else if (name == "ifd0" && tag == 0x8825 && ttype == 4 &&
              count == 1)
            gpsPtr = u32(t, vAt, le)
          else ttype match {
            case 2 =>
              val sb = new java.lang.StringBuilder()
              var k = 0L
              while (k < count) {
                val c = u8(t, vAt + k)
                if (c != 0) sb.append(c.toChar)
                k += 1
              }
              out += Tag(name, tag, ttype, 0, 0, 0, sb.toString)
              emitted += 1
            case 7 =>
              val sb = new java.lang.StringBuilder()
              var k = 0L
              while (k < count) {
                sb.append("%02x".format(u8(t, vAt + k)))
                k += 1
              }
              out += Tag(name, tag, ttype, 0, 0, 0, sb.toString)
              emitted += 1
            case _ =>
              var k = 0L
              while (k < count) {
                val at = vAt + k * sz
                val (num, den) = ttype match {
                  case 1 => (u8(t, at).toLong, 1L)
                  case 3 => (u16(t, at, le).toLong, 1L)
                  case 4 => (u32(t, at, le), 1L)
                  case 9 => (u32(t, at, le).toInt.toLong, 1L)
                  case 5 => (u32(t, at, le), u32(t, at + 4, le))
                  case 10 =>
                    (u32(t, at, le).toInt.toLong, u32(t, at + 4, le).toInt.toLong)
                  case _ => refuse()
                }
                out += Tag(name, tag, ttype, k.toInt, num, den, null)
                emitted += 1
                k += 1
              }
          }
        }
        i += 1
      }
      if (exifPtr != 0) parseIfd(exifPtr, "exif")
      if (gpsPtr != 0) parseIfd(gpsPtr, "gps")
      val next = u32(t, off0 + 2 + n * 12L, le)
      if (next != 0 && name == "ifd0") parseIfd(next, "ifd1")
    }

    parseIfd(u32(t, 4, le), "ifd0")
    out.result()
  }
}
