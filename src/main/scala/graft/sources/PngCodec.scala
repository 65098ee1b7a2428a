package graft.sources

import Bytes._

/** Pure-Scala PNG codec — the image container real multimodal corpora
  * actually ship (the reference's chips move as rasterio TIFFs and npy
  * tiles, process_data.py:64-90; web-scale image-text corpora are
  * PNG/JPEG members inside webdataset tars, dataops/dataset.py:31).
  * Public format (RFC 2083 / W3C PNG): 8-byte signature, then chunks
  * of (4-byte BE length, 4-byte type, payload, CRC-32 over
  * type+payload). Critical chunks only: IHDR (dims, bit depth, color
  * type, interlace), PLTE (palette for color type 3), IDAT (zlib
  * stream of filtered scanlines, possibly split across chunks), IEND.
  * Each scanline is prefixed by a filter byte 0-4 (None/Sub/Up/
  * Average/Paeth) applied per-byte against left/up/up-left neighbors
  * at the pixel's channel stride.
  *
  * Envelope discipline matches [[GzipCodec]]/[[TarCodec]]/[[NpyCodec]]:
  * the writer emits deterministic spec-conformant files any PNG reader
  * accepts (filter 0 rows, one IDAT, no ancillary chunks); the reader
  * walks the chunk stream, verifies EVERY chunk CRC and both zlib
  * checks, reverses all five filter types, and returns None for
  * anything it cannot faithfully parse — truncated stream, bad
  * signature, CRC mismatch, unsupported bit depth/interlace, short
  * pixel data — never throwing, so one corrupt image skips instead of
  * killing a distributed scan. Supported: 8-bit gray (0), RGB (2),
  * palette (3), gray+alpha (4), RGBA (6), non-interlaced. The
  * inflate transform is the JDK's zlib (the TIFF-deflate precedent);
  * the container walk and filter reversal — what corrupt data
  * attacks — are all here.
  */
object PngCodec {

  /** One decoded image: dims, channels (1 gray, 2 gray+alpha, 3 RGB,
    * 4 RGBA — palette expands to 3), row-major interleaved samples
    * as unsigned bytes in 0..255. */
  case class PngImage(width: Int, height: Int, channels: Int,
                      pixels: Array[Byte])

  private val Signature = Array[Int](0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    .map(_.toByte)

  /** Hard ceiling on decoded pixel bytes (w*h*channels): a 100-byte
    * crafted IHDR can claim 2^31 pixels; a scan over untrusted
    * buckets must bound per-task memory. 64 MiB covers any sane
    * corpus image; larger returns None (skip, not OOM). */
  val MaxPixelBytes: Int = 64 << 20

  /** Encode 8-bit samples as a PNG (filter 0 rows, single IDAT).
    * `channels`: 1 gray, 2 gray+alpha, 3 RGB, 4 RGBA. Deterministic:
    * fixed zlib level, no timestamps, no ancillary chunks —
    * identical pixels produce identical bytes. */
  def encode(width: Int, height: Int, channels: Int,
             pixels: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims $width x $height")
    require(Set(1, 2, 3, 4)(channels), s"bad channel count $channels")
    require(pixels.length == width * height * channels,
      s"${pixels.length} != $width*$height*$channels")
    val colorType = channels match {
      case 1 => 0; case 2 => 4; case 3 => 2; case 4 => 6
    }
    val stride = width * channels
    val raw = new Array[Byte](height * (1 + stride))
    var y = 0
    while (y < height) {
      // filter byte 0 (None) + the raw scanline
      System.arraycopy(pixels, y * stride, raw, y * (1 + stride) + 1, stride)
      y += 1
    }
    val zOut = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    Compression.deflate(raw, zOut)
    val out = new java.io.ByteArrayOutputStream(zOut.size() + 64)
    Signature.foreach(b => out.write(b & 0xff))
    def chunk(typ: String, payload: Array[Byte]): Unit = {
      out.write(be(payload.length, 4), 0, 4)
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(payload)
      out.write(tb, 0, 4)
      out.write(payload, 0, payload.length)
      out.write(be(crc.getValue, 4), 0, 4)
    }
    val ihdr = new java.io.ByteArrayOutputStream(13)
    ihdr.write(be(width, 4), 0, 4)
    ihdr.write(be(height, 4), 0, 4)
    ihdr.write(8)          // bit depth
    ihdr.write(colorType)
    ihdr.write(0); ihdr.write(0); ihdr.write(0) // compression, filter, interlace
    chunk("IHDR", ihdr.toByteArray)
    chunk("IDAT", zOut.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Decode a PNG; None on any structural violation. Palette images
    * expand to 3-channel RGB. */
  def decode(bytes: Array[Byte]): Option[PngImage] =
    refusing(run(bytes)).flatten

  private def run(bytes: Array[Byte]): Option[PngImage] = {
    if (bytes.length < 8 + 12 + 13 + 12 + 12) return None
    var i = 0
    while (i < 8) { if (bytes(i) != Signature(i)) return None; i += 1 }
    // chunk walk: verify every CRC, concatenate IDATs, stop at IEND
    var pos = 8
    var width = 0; var height = 0; var colorType = -1; var bitDepth = 0
    var palette: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream(bytes.length)
    var sawIhdr = false; var sawIend = false
    while (!sawIend) {
      if (pos + 12 > bytes.length) return None // truncated chunk header
      val len = be32(bytes, pos)
      if (len < 0 || len > Int.MaxValue - 12 || pos + 12 + len > bytes.length)
        return None
      val typ = fourcc(bytes, pos + 4)
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, pos + 4, 4 + len.toInt)
      if (crc.getValue != be32(bytes, pos + 8 + len.toInt)) return None
      val body = pos + 8
      typ match {
        case "IHDR" =>
          if (sawIhdr || len != 13) return None
          sawIhdr = true
          width = be32(bytes, body).toInt
          height = be32(bytes, body + 4).toInt
          bitDepth = bytes(body + 8) & 0xff
          colorType = bytes(body + 9) & 0xff
          val interlace = bytes(body + 12) & 0xff
          if (width <= 0 || height <= 0) return None
          if (bitDepth != 8) return None          // 8-bit only
          if (interlace != 0) return None         // no Adam7
          if (!Set(0, 2, 3, 4, 6)(colorType)) return None
        case "PLTE" =>
          if (!sawIhdr || len % 3 != 0 || len > 768) return None
          palette = java.util.Arrays.copyOfRange(bytes, body, body + len.toInt)
        case "IDAT" =>
          if (!sawIhdr) return None
          idat.write(bytes, body, len.toInt)
        case "IEND" =>
          if (len != 0) return None
          sawIend = true
        case _ =>
          // ancillary chunks (tEXt, gAMA, ...) are CRC-checked above
          // and skipped; an unknown CRITICAL chunk (ancillary bit of
          // the type's first byte clear) would change the image — refuse
          if ((bytes(pos + 4) & 0x20) == 0) return None
      }
      pos += 12 + len.toInt
    }
    if (!sawIhdr || idat.size() == 0) return None
    val srcCh = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
    }
    if (colorType == 3 && palette == null) return None
    val stride = width.toLong * srcCh
    val rawLen = height.toLong * (1 + stride)
    val outCh = if (colorType == 3) 3 else srcCh
    if (width.toLong * height * outCh > MaxPixelBytes) return None
    // the concatenated IDAT zlib stream must end at EXACTLY rawLen:
    // surplus pixel data is a malformed file, not extra rows to ignore
    val raw = Compression.inflate(idat.toByteArray, 0, idat.size, rawLen.toInt,
      exact = true).getOrElse(return None)
    // reverse the per-row filters in place over a bytes-per-pixel
    // stride (PNG spec 6.2: left/up neighbors are CHANNEL-aligned)
    val bpp = srcCh
    val px = new Array[Byte](height * stride.toInt)
    var y = 0
    while (y < height) {
      val ft = raw(y * (1 + stride.toInt)) & 0xff
      if (ft > 4) return None
      val rowIn = y * (1 + stride.toInt) + 1
      val rowOut = y * stride.toInt
      val prevOut = (y - 1) * stride.toInt
      var x = 0
      while (x < stride) {
        val cur = raw(rowIn + x) & 0xff
        val left = if (x >= bpp) px(rowOut + x - bpp) & 0xff else 0
        val up = if (y > 0) px(prevOut + x) & 0xff else 0
        val upLeft = if (y > 0 && x >= bpp) px(prevOut + x - bpp) & 0xff else 0
        val v = ft match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + ((left + up) / 2)
          case 4 =>
            val p = left + up - upLeft
            val pa = math.abs(p - left); val pb = math.abs(p - up)
            val pc = math.abs(p - upLeft)
            cur + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else upLeft)
        }
        px(rowOut + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    if (colorType == 3) {
      // palette expansion: every index must be inside the palette
      val n = palette.length / 3
      val rgb = new Array[Byte](width * height * 3)
      var j = 0
      while (j < px.length) {
        val idx = px(j) & 0xff
        if (idx >= n) return None
        rgb(3 * j) = palette(3 * idx)
        rgb(3 * j + 1) = palette(3 * idx + 1)
        rgb(3 * j + 2) = palette(3 * idx + 2)
        j += 1
      }
      Some(PngImage(width, height, 3, rgb))
    } else Some(PngImage(width, height, srcCh, px))
  }
}
