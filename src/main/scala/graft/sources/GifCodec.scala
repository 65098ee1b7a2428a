package graft.sources

import Bytes._

/** GIF codec (GIF87a/89a) — still everywhere in web crawls; a
  * LAION-style multimodal pipeline decodes or skips one constantly,
  * and animated GIFs are the smallest real case of the frame-sample
  * discipline (q_frame_sample). Sibling of [[PngCodec]]/[[JpegCodec]]
  * in the image family; the reference's imagery path is
  * GeoTIFF/PNG-shaped (dataops/monthly.py), GIF is the web-corpus
  * long tail next to it.
  *
  * Decode walks the public spec: logical screen descriptor + global
  * color table, extension blocks skipped by sub-block framing, image
  * descriptors with optional local color tables and interlace, and
  * the GIF flavor of LZW — variable-width codes packed LSB-first
  * across 255-byte sub-blocks, width growing when the dictionary
  * reaches the current ceiling (cap 12 bits), CLEAR resetting
  * mid-stream (the dictionary-full path), the kwkwk self-reference
  * case. [[decode]] emits frames independently at CANVAS coordinates
  * through the active palette; [[composite]] additionally applies the
  * graphic-control extension's disposal methods (none / do-not-dispose
  * / restore-to-background / restore-to-previous) and transparency to
  * produce the full-canvas frames a vision pipeline actually samples —
  * web-corpus GIFs are predominantly animated, and per-frame rects are
  * deltas, not images.
  *
  * Contract: whole-file refusal (None) on any structural fault — bad
  * magic, truncated blocks, out-of-range LZW code, pixel shortfall,
  * missing palette, budget breach. Never throws. */
object GifCodec {

  /** One decoded frame: canvas offsets and packed RGB (3 bytes/px). */
  case class Frame(idx: Int, left: Int, top: Int, w: Int, h: Int,
      interlaced: Boolean, rgb: Array[Byte])

  /** One COMPOSITED animation frame: the full logical screen after
    * this frame paints over its predecessors per their disposal
    * methods. Packed RGBA (4 bytes/px); alpha 0 = never painted
    * (restore-to-background restores to transparent — the
    * web-decoder consensus; the 89a spec's background-COLOR wording
    * predates transparency and no modern renderer follows it). */
  case class CanvasFrame(idx: Int, w: Int, h: Int, rgba: Array[Byte])

  /** Decoded frame plus the graphic-control state that governs its
    * composition: deinterlaced row-major palette indices, the active
    * palette, the GCE disposal method (0..3) and transparent index
    * (-1 when opaque). */
  private case class Raw(idx: Int, left: Int, top: Int, w: Int, h: Int,
      interlaced: Boolean, indices: Array[Byte], palette: Array[Byte],
      disposal: Int, transp: Int)

  val MaxFrames: Int = 1024
  val MaxPixels: Long = 64L << 20

  def decode(bytes: Array[Byte]): Option[Vector[Frame]] =
    refusing(run(bytes)._3.map { f =>
      val rgb = new Array[Byte](3 * f.w * f.h)
      var i = 0
      while (i < f.indices.length) {
        val ci = f.indices(i) & 0xff
        rgb(3 * i) = f.palette(3 * ci)
        rgb(3 * i + 1) = f.palette(3 * ci + 1)
        rgb(3 * i + 2) = f.palette(3 * ci + 2)
        i += 1
      }
      Frame(f.idx, f.left, f.top, f.w, f.h, f.interlaced, rgb)
    })

  /** Composited animation: every frame as a full-canvas RGBA snapshot
    * per the GCE disposal state machine. Canvas starts transparent;
    * each frame paints its rect (skipping transparent-index pixels),
    * the snapshot is taken, then the frame's disposal runs: 0/1 keep
    * the canvas, 2 restores the frame RECT to transparent, 3 restores
    * the whole canvas to its pre-frame state. Refusals on top of
    * [[decode]]'s: a frame rect off the logical screen, a reserved
    * disposal method (4..7), a screen over [[MaxPixels]]. */
  def composite(bytes: Array[Byte]): Option[Vector[CanvasFrame]] =
    refusing {
      val (sw, sh, raws) = run(bytes)
      if (sw == 0 || sh == 0) refuse()
      if (sw.toLong * sh > MaxPixels) refuse()
      if (raws.length.toLong * sw * sh > MaxPixels) refuse()
      val canvas = new Array[Byte](4 * sw * sh)
      val out = Vector.newBuilder[CanvasFrame]
      raws.foreach { f =>
        if (f.disposal > 3) refuse() // 4..7: reserved by the spec
        if (f.left + f.w > sw || f.top + f.h > sh) refuse()
        val before =
          if (f.disposal == 3) java.util.Arrays.copyOf(canvas, canvas.length)
          else null
        var y = 0
        while (y < f.h) {
          var x = 0
          while (x < f.w) {
            val ci = f.indices(y * f.w + x) & 0xff
            if (ci != f.transp) {
              val o = 4 * ((f.top + y) * sw + (f.left + x))
              canvas(o) = f.palette(3 * ci)
              canvas(o + 1) = f.palette(3 * ci + 1)
              canvas(o + 2) = f.palette(3 * ci + 2)
              canvas(o + 3) = -1
            }
            x += 1
          }
          y += 1
        }
        out += CanvasFrame(f.idx, sw, sh,
          java.util.Arrays.copyOf(canvas, canvas.length))
        f.disposal match {
          case 2 =>
            var yy = 0
            while (yy < f.h) {
              val row = 4 * ((f.top + yy) * sw + f.left)
              java.util.Arrays.fill(canvas, row, row + 4 * f.w, 0.toByte)
              yy += 1
            }
          case 3 => System.arraycopy(before, 0, canvas, 0, canvas.length)
          case _ => ()
        }
      }
      out.result()
    }

  /** Encode one full-canvas frame as GIF89a: global palette (length a
    * power of two ≥ 4 colors, 3 bytes each), one image descriptor, no
    * interlace; the LZW coder mirrors the decoder's conventions
    * exactly (early-grow at (1<<cs)+1, CLEAR + reset when the
    * dictionary reaches 4096). Round-trip pinned by spec and by the
    * corpus-driven q_gif_roundtrip oracle. */
  def encode(w: Int, h: Int, palette: Array[Byte], indices: Array[Byte]): Array[Byte] = {
    val colors = palette.length / 3
    require(colors >= 4 && Integer.bitCount(colors) == 1 &&
      palette.length == 3 * colors, s"palette must be a power of two: $colors")
    require(w >= 1 && w <= 0xffff && h >= 1 && h <= 0xffff,
      s"GIF dimensions are u16: $w x $h") // silent wrap would declare w=0
    require(indices.length == w * h, s"${indices.length} != $w x $h")
    val bits = 31 - Integer.numberOfLeadingZeros(colors)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes)
    out.write(w & 0xff); out.write(w >> 8)
    out.write(h & 0xff); out.write(h >> 8)
    out.write(0x80 | (bits - 1)); out.write(0); out.write(0)
    out.write(palette, 0, palette.length)
    out.write(0x2c)
    out.write(0); out.write(0); out.write(0); out.write(0) // left, top
    out.write(w & 0xff); out.write(w >> 8)
    out.write(h & 0xff); out.write(h >> 8)
    out.write(0) // no local table, no interlace
    val minCode = math.max(2, bits)
    out.write(minCode)
    val data = lzwEncode(indices, minCode)
    var p = 0
    while (p < data.length) {
      val k = math.min(255, data.length - p)
      out.write(k)
      out.write(data, p, k)
      p += k
    }
    out.write(0)
    out.write(0x3b)
    out.toByteArray
  }

  /** GIF LZW encoder (LSB-first, variable width) — the exact mirror
    * of the decoder's growth/reset rules. Dictionary is a hash on
    * (prefix code, next byte). */
  private def lzwEncode(indices: Array[Byte], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val end = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var nbits = 0
    var cs = minCode + 1
    def put(code: Int): Unit = {
      acc |= code.toLong << nbits
      nbits += cs
      while (nbits >= 8) { out.write((acc & 0xff).toInt); acc >>= 8; nbits -= 8 }
    }
    var dict = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
    var next = end + 1
    def reset(): Unit = {
      dict = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
      next = end + 1; cs = minCode + 1
    }
    put(clear)
    if (indices.nonEmpty) {
      var cur = indices(0) & 0xff
      var i = 1
      while (i < indices.length) {
        val c = indices(i) & 0xff
        val key = java.lang.Long.valueOf((cur.toLong << 8) | c)
        val hit = dict.get(key)
        if (hit != null) {
          cur = hit.intValue()
        } else {
          put(cur)
          if (next < 4096) {
            dict.put(key, next)
            next += 1
            if (next == (1 << cs) + 1 && cs < 12) cs += 1
          } else {
            put(clear); reset()
          }
          cur = c
        }
        i += 1
      }
      put(cur)
      // the decoder ADDS an entry after reading this final code and
      // may cross a width boundary before reading END — mirror that
      // bookkeeping or END arrives one bit narrow (found by a real
      // corpus doc whose stream ends exactly at the 256-entry line)
      if (next < 4096) {
        next += 1
        if (next == (1 << cs) + 1 && cs < 12) cs += 1
      }
    }
    put(end)
    if (nbits > 0) out.write((acc & 0xff).toInt)
    out.toByteArray
  }

  private def run(b: Array[Byte]): (Int, Int, Vector[Raw]) = {
    if (b.length < 13 || b(0) != 'G' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != '8' || (b(4) != '7' && b(4) != '9') || b(5) != 'a') refuse()
    val screenW = le16(b, 6); val screenH = le16(b, 8)
    val packed = u8(b, 10)
    var p = 13
    val global: Array[Byte] =
      if ((packed & 0x80) != 0) {
        val n = 3 * (1 << ((packed & 7) + 1))
        if (p + n > b.length) refuse()
        val t = java.util.Arrays.copyOfRange(b, p, p + n)
        p += n
        t
      } else null

    /** Skip a sub-block chain, returning the position after its 0 end. */
    def skipSubBlocks(q0: Int): Int = {
      var q = q0
      while (u8(b, q) != 0) q += 1 + u8(b, q)
      q + 1
    }

    /** Concatenate a sub-block chain's payload. */
    def readSubBlocks(q0: Int): (Array[Byte], Int) = {
      val out = new java.io.ByteArrayOutputStream()
      var q = q0
      while (u8(b, q) != 0) {
        val n = u8(b, q)
        if (q + 1 + n > b.length) refuse()
        out.write(b, q + 1, n)
        q += 1 + n
      }
      (out.toByteArray, q + 1)
    }

    /** GIF LZW: LSB-first variable-width codes → `want` pixel indices. */
    def lzw(data: Array[Byte], minCode: Int, want: Int): Array[Byte] = {
      if (minCode < 2 || minCode > 8) refuse()
      val clear = 1 << minCode
      val end = clear + 1
      // dictionary as (prefix link, appended byte); roots are self-terminal
      val prefix = new Array[Int](4096)
      val suffix = new Array[Byte](4096)
      val out = new Array[Byte](want)
      var produced = 0
      var cs = minCode + 1
      var next = end + 1
      var prev = -1
      var acc = 0L
      var nbits = 0
      var dp = 0
      val stack = new Array[Byte](4096)

      def emitEntry(code0: Int, extra: Int): Unit = {
        // walk the chain onto a stack, then pop in order
        var top = 0
        if (extra >= 0) { stack(top) = extra.toByte; top += 1 }
        var c = code0
        while (c >= clear + 2) {
          if (top >= stack.length) refuse()
          stack(top) = suffix(c); top += 1
          c = prefix(c)
        }
        if (c >= clear) refuse()
        if (top >= stack.length) refuse()
        stack(top) = c.toByte; top += 1
        while (top > 0) {
          top -= 1
          if (produced < want) { out(produced) = stack(top); produced += 1 }
          else refuse() // more pixels than the frame declares
        }
      }
      def firstByteOf(code: Int): Int = {
        var c = code
        while (c >= clear + 2) c = prefix(c)
        if (c >= clear) refuse()
        c
      }

      var done = false
      while (!done) {
        while (nbits < cs && dp < data.length) {
          acc |= (data(dp) & 0xffL) << nbits
          nbits += 8
          dp += 1
        }
        if (nbits < cs) refuse() // ran out of bits before END
        val code = (acc & ((1L << cs) - 1)).toInt
        acc >>= cs
        nbits -= cs
        if (code == clear) {
          cs = minCode + 1; next = end + 1; prev = -1
        } else if (code == end) {
          done = true
        } else if (prev < 0) {
          if (code >= clear) refuse() // first code after clear must be a root
          emitEntry(code, -1)
          prev = code
        } else {
          if (code > next || (code == next && next >= 4096)) refuse()
          if (code == next) emitEntry(prev, firstByteOf(prev)) // kwkwk
          else emitEntry(code, -1)
          if (next < 4096) {
            prefix(next) = prev
            suffix(next) = (if (code == next) firstByteOf(prev)
              else firstByteOf(code)).toByte
            next += 1
            if (next == (1 << cs) && cs < 12) cs += 1
          }
          prev = code
        }
      }
      if (produced != want) refuse()
      out
    }

    val frames = Vector.newBuilder[Raw]
    var idx = 0
    var pixelBudget = MaxPixels
    var done = false
    // graphic-control state for the NEXT image descriptor only
    var pendDisposal = 0
    var pendTransp = -1
    while (!done) {
      u8(b, p) match {
        case 0x3b => done = true
        case 0x21 => // extension: label + sub-blocks
          if (u8(b, p + 1) == 0xf9 && u8(b, p + 2) >= 4) {
            val pk = u8(b, p + 3)
            pendDisposal = (pk >> 2) & 7
            pendTransp = if ((pk & 1) != 0) u8(b, p + 6) else -1
          }
          p = skipSubBlocks(p + 2)
        case 0x2c =>
          if (idx >= MaxFrames) refuse()
          val left = le16(b, p + 1); val top = le16(b, p + 3)
          val w = le16(b, p + 5); val h = le16(b, p + 7)
          val fp = u8(b, p + 9)
          p += 10
          if (w == 0 || h == 0) refuse()
          if (w.toLong * h > pixelBudget) refuse()
          pixelBudget -= w.toLong * h
          val palette: Array[Byte] =
            if ((fp & 0x80) != 0) {
              val n = 3 * (1 << ((fp & 7) + 1))
              if (p + n > b.length) refuse()
              val t = java.util.Arrays.copyOfRange(b, p, p + n)
              p += n
              t
            } else if (global != null) global
            else refuse() // no palette anywhere: undecodable
          val minCode = u8(b, p)
          p += 1
          val (data, after) = readSubBlocks(p)
          p = after
          val interlaced = (fp & 0x40) != 0
          val streamPix = lzw(data, minCode, w * h)
          // stream order → row-major (deinterlace); every index must
          // resolve in the active palette (the decode-path contract,
          // whether or not the pixel later paints as transparent)
          val indices = new Array[Byte](w * h)
          val rowOrder: Seq[Int] =
            if (!interlaced) 0 until h
            else Seq((0, 8), (4, 8), (2, 4), (1, 2))
              .flatMap { case (s, st) => s until h by st }
          var src = 0
          for (y <- rowOrder) {
            var x = 0
            while (x < w) {
              val ci = streamPix(src) & 0xff
              if (3 * ci + 2 >= palette.length) refuse()
              indices(y * w + x) = streamPix(src)
              src += 1; x += 1
            }
          }
          frames += Raw(idx, left, top, w, h, interlaced, indices,
            palette, pendDisposal, pendTransp)
          pendDisposal = 0; pendTransp = -1
          idx += 1
        case _ => refuse()
      }
    }
    (screenW, screenH, frames.result())
  }
}
