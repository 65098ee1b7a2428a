package graft.sources

import Bytes._

/** BMP codec (Windows DIB) — the uncompressed long-tail image format
  * web crawls still surface (old sites, screenshots, scanned-doc
  * dumps); a LAION-style pipeline decodes or skips one daily. Sibling
  * of [[GifCodec]]/[[PngCodec]] in the image family.
  *
  * Decode walks the public format: BITMAPFILEHEADER ('BM', pixel-data
  * offset), BITMAPINFOHEADER (40-byte v3; larger v4/v5 headers accept
  * by their declared size), BGRA palette for indexed depths, then
  * bottom-up (or top-down, negative height) rows padded to 4 bytes.
  * Supported: 1/4/8-bit indexed, 24-bit BGR, 32-bit BGRX, and RLE8
  * (runs, absolute mode, end-of-line/bitmap, delta skips — skipped
  * pixels read as palette entry 0, the format's implicit background).
  * Refusals, whole-file: BI_BITFIELDS and other compressions, 16-bit,
  * missing palette, dimension/budget breaches, RLE overruns. Never
  * throws. */
object BmpCodec {

  /** Decoded image: packed RGB, row-major top-down. */
  case class Image(w: Int, h: Int, bpp: Int, rgb: Array[Byte])

  val MaxPixels: Long = 64L << 20

  def decode(bytes: Array[Byte]): Option[Image] =
    refusing(run(bytes))

  private def run(b: Array[Byte]): Image = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') refuse()
    val dataOff = le32(b, 10).toInt
    // a negative/out-of-file offset must refuse HERE: the 24/32-bit
    // branch reads pixel bytes raw, and `dataOff.toLong + size > len`
    // alone lets a negative offset through to an AIOOBE
    if (dataOff < 14 || dataOff > b.length) refuse()
    val hdrSize = le32(b, 14).toInt
    if (hdrSize < 40 || hdrSize > 256) refuse() // v3/v4/v5 info headers
    val w = le32(b, 18).toInt
    val hRaw = le32(b, 22).toInt
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) refuse()
    if (le16(b, 26) != 1) refuse() // planes
    val bpp = le16(b, 28)
    val compression = le32(b, 30).toInt
    val colorsUsed = le32(b, 46).toInt

    val paletteAt = 14 + hdrSize
    val palette: Array[Byte] = if (bpp <= 8) {
      val n = if (colorsUsed > 0) colorsUsed else 1 << bpp
      if (n > 256 || paletteAt + 4 * n > b.length) refuse()
      val t = new Array[Byte](3 * n)
      var i = 0
      while (i < n) { // BGRA quads → RGB
        t(3 * i) = b(paletteAt + 4 * i + 2)
        t(3 * i + 1) = b(paletteAt + 4 * i + 1)
        t(3 * i + 2) = b(paletteAt + 4 * i)
        i += 1
      }
      t
    } else null

    val rgb = new Array[Byte](3 * w * h)
    def setFromPalette(x: Int, y: Int, ci: Int): Unit = {
      if (3 * ci + 2 >= palette.length) refuse()
      val yy = if (topDown) y else h - 1 - y // y counts STORED rows
      val o = 3 * (yy * w + x)
      rgb(o) = palette(3 * ci)
      rgb(o + 1) = palette(3 * ci + 1)
      rgb(o + 2) = palette(3 * ci + 2)
    }

    (bpp, compression) match {
      case (24, 0) | (32, 0) =>
        val bytesPerPx = bpp / 8
        val stride = (w * bytesPerPx + 3) & ~3
        if (dataOff.toLong + stride.toLong * h > b.length) refuse()
        var y = 0
        while (y < h) {
          val yy = if (topDown) y else h - 1 - y
          var x = 0
          while (x < w) {
            val p = dataOff + y * stride + x * bytesPerPx
            val o = 3 * (yy * w + x)
            rgb(o) = b(p + 2); rgb(o + 1) = b(p + 1); rgb(o + 2) = b(p)
            x += 1
          }
          y += 1
        }
      case (1, 0) | (4, 0) | (8, 0) =>
        val stride = ((w * bpp + 31) / 32) * 4
        if (dataOff.toLong + stride.toLong * h > b.length) refuse()
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val bitPos = x * bpp
            val byteAt = dataOff + y * stride + bitPos / 8
            val ci = bpp match {
              case 8 => u8(b, byteAt)
              case 4 => (u8(b, byteAt) >> (4 - (bitPos % 8))) & 0xf
              case 1 => (u8(b, byteAt) >> (7 - (bitPos % 8))) & 1
            }
            setFromPalette(x, y, ci)
            x += 1
          }
          y += 1
        }
      case (8, 1) => // RLE8: background (entry 0) prefill, then runs
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { setFromPalette(x, y, 0); x += 1 }
          y += 1
        }
        var p = dataOff
        var cx = 0
        var cy = 0
        var done = false
        while (!done) {
          val n = u8(b, p); val v = u8(b, p + 1); p += 2
          if (n > 0) { // run
            var k = 0
            while (k < n) {
              if (cx >= w || cy >= h) refuse()
              setFromPalette(cx, cy, v); cx += 1; k += 1
            }
          } else v match {
            case 0 => cy += 1; cx = 0 // end of line
            case 1 => done = true // end of bitmap
            case 2 => cx += u8(b, p); cy += u8(b, p + 1); p += 2 // delta
            case cnt => // absolute mode, word-aligned
              var k = 0
              while (k < cnt) {
                if (cx >= w || cy >= h) refuse()
                setFromPalette(cx, cy, u8(b, p + k)); cx += 1; k += 1
              }
              p += cnt + (cnt & 1)
          }
          if (cy > h) refuse()
        }
      case _ => refuse() // 16-bit, BI_BITFIELDS, RLE4, etc.
    }
    Image(w, h, bpp, rgb)
  }
}
