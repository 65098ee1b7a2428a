package graft.sources

import Bytes._

/** WebP container codec — WebP is the dominant image format of the
  * modern web, and a crawl pipeline's first pass needs canvas
  * dimensions, alpha/animation flags, the animation frame table and
  * embedded EXIF WITHOUT a VP8 decoder (pixels stay at the codec-
  * library stub boundary, the [[Mp4Codec]] split). Walk: RIFF
  * framing (fourcc + u32le size, odd sizes padded), then per chunk:
  * `VP8 ` lossy (3-byte frame tag, the 0x9D012A sync, 14-bit
  * dimensions), `VP8L` lossless (0x2F, then 14+14+1+3 LE bitfields),
  * `VP8X` extended (flag byte, u24 canvas), `ANIM` (loop count),
  * `ANMF` frames (u24 geometry ×2, u24 duration, dispose byte, the
  * frame's own sub-chunk), `EXIF` (a bare TIFF block — decoded
  * through [[ExifCodec.parseTiff]]; its GPS IFD is image PII);
  * unknown chunks (ICCP/XMP/ALPH/…) are inventoried and skipped.
  *
  * Refusal contract ([[GzipCodec]] discipline): whole-file None on a
  * bad RIFF/WEBP header, a chunk running past EOF, a broken VP8
  * sync / VP8L marker, a VP8X file without usable dimensions, chunk
  * counts over [[MaxChunks]]. A malformed EXIF chunk refuses the
  * file — metadata is the product here. Never throws. */
object WebpCodec {

  /** One metadata row: kind ∈ canvas/chunk/anim/frame/exif_gps. */
  case class Meta(kind: String, key: String, idx: Int, num: Long,
      sval: String)

  val MaxChunks: Int = 4096

  def decode(bytes: Array[Byte]): Option[Vector[Meta]] =
    refusing(run(bytes))

  private def run(b: Array[Byte]): Vector[Meta] = {
    if (b.length < 20 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "WEBP") refuse()
    val riffEnd = math.min(8L + le32(b, 4), b.length.toLong)

    val out = Vector.newBuilder[Meta]
    var width = -1L
    var height = -1L
    var alpha = 0L
    var anim = 0L
    var format: String = null
    var frameIdx = 0
    var chunkIdx = 0

    /** VP8 lossy frame header → (w, h); sync-checked. */
    def vp8Dims(at: Int, end: Long): (Long, Long) = {
      if (at + 10 > end) refuse()
      if (u8(b, at + 3) != 0x9d || u8(b, at + 4) != 0x01 ||
          u8(b, at + 5) != 0x2a) refuse()
      ((le16(b, at + 6) & 0x3fff).toLong, (le16(b, at + 8) & 0x3fff).toLong)
    }
    /** VP8L header → (w, h, alpha). */
    def vp8lDims(at: Int, end: Long): (Long, Long, Long) = {
      if (at + 5 > end) refuse()
      if (u8(b, at) != 0x2f) refuse()
      val bits = le32(b, at + 1)
      ((bits & 0x3fff) + 1, ((bits >> 14) & 0x3fff) + 1,
        (bits >> 28) & 1)
    }

    def walkChunks(from: Long, to: Long, top: Boolean): Unit = {
      var p = from
      while (p + 8 <= to) {
        if (chunkIdx >= MaxChunks) refuse()
        val cc = fourcc(b, p)
        val sz = le32(b, p + 4)
        val at = (p + 8).toInt
        if (p + 8 + sz > to) refuse()
        if (top) {
          out += Meta("chunk", cc, chunkIdx, sz, null)
          chunkIdx += 1
        }
        cc match {
          case "VP8 " =>
            val (w, h) = vp8Dims(at, at + sz)
            if (format == null) { format = "VP8"; width = w; height = h }
          case "VP8L" =>
            val (w, h, a) = vp8lDims(at, at + sz)
            if (format == null) {
              format = "VP8L"; width = w; height = h; alpha = a
            }
          case "VP8X" =>
            if (sz < 10) refuse()
            val flags = u8(b, at)
            alpha = (flags >> 4) & 1
            anim = (flags >> 1) & 1
            width = le24(b, at + 4) + 1L
            height = le24(b, at + 7) + 1L
            format = "VP8X"
          case "ANIM" =>
            if (sz < 6) refuse()
            out += Meta("anim", "loop_count", 0, le16(b, at + 4), null)
          case "ANMF" =>
            if (sz < 16) refuse()
            val i = frameIdx
            frameIdx += 1
            out += Meta("frame", "x", i, le24(b, at) * 2L, null)
            out += Meta("frame", "y", i, le24(b, at + 3) * 2L, null)
            out += Meta("frame", "width", i, le24(b, at + 6) + 1L, null)
            out += Meta("frame", "height", i, le24(b, at + 9) + 1L, null)
            out += Meta("frame", "duration_ms", i, le24(b, at + 12), null)
            out += Meta("frame", "dispose", i, u8(b, at + 15) & 1, null)
            walkChunks(at + 16L, at + sz, top = false) // the frame data
          case "EXIF" =>
            // raw TIFF block — the image-PII surface; malformed refuses
            val block = java.util.Arrays.copyOfRange(b, at, (at + sz).toInt)
            val tags = ExifCodec.parseTiff(block).getOrElse(refuse())
            def gps(tag: Int): Option[ExifCodec.Tag] =
              tags.find(t => t.ifd == "gps" && t.tag == tag && t.idx == 0)
            for (lat <- gps(2); ref <- gps(1)) {
              out += Meta("exif_gps", "lat_deg", 0, lat.num, null)
              out += Meta("exif_gps", "lat_ref", 0, 0, ref.sval)
            }
            for (lon <- gps(4); ref <- gps(3)) {
              out += Meta("exif_gps", "lon_deg", 0, lon.num, null)
              out += Meta("exif_gps", "lon_ref", 0, 0, ref.sval)
            }
          case _ => () // ICCP / XMP / ALPH / unknown: skip by size
        }
        p += 8 + sz + (sz & 1) // RIFF even padding
      }
      if (p != to) refuse() // trailing garbage inside the walked span
    }

    walkChunks(12L, riffEnd, top = true)
    if (format == null || width <= 0 || height <= 0) refuse()
    Vector(
      Meta("canvas", "width", 0, width, null),
      Meta("canvas", "height", 0, height, null),
      Meta("canvas", "alpha", 0, alpha, null),
      Meta("canvas", "anim", 0, anim, null),
      Meta("canvas", "format", 0, 0, format)) ++ out.result()
  }
}
