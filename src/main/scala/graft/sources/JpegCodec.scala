package graft.sources

import scala.collection.mutable
import Bytes.{be, be16, refuse}

/** JPEG (ISO/IEC 10918-1) decoder for multimodal binary columns —
  * real LLM training corpora (LAION-style webdatasets, reference
  * `dataops/` image shards) carry JPEG, not PPM/TIFF.
  *
  * Scope: baseline sequential Huffman (SOF0/SOF1), progressive
  * Huffman (SOF2 — spectral selection + successive approximation,
  * the dominant web-image coding; see [[ProgState]]), AND the
  * arithmetic-coded (QM-coder) variants of both — extended
  * sequential SOF9 (process 3) and progressive SOF10 (process 6),
  * incl. DAC conditioning and arithmetic restart re-init (see
  * [[QmDecoder]]); 8-bit, 1 (grayscale) or 3 (YCbCr) components, any
  * h/v sampling factors up to 2 (4:4:4, 4:2:2, 4:2:0), multiple
  * DQT/DHT segments (including per-scan table redefinition), DRI/RSTn
  * restart intervals, APPn/COM skipped. Lossless sequential Huffman
  * (SOF3, process 14 — the DICOM/scientific shape, 2-16 bit) decodes
  * through the separate [[decodeLossless]] entry, and 12-bit extended
  * sequential (SOF1, process 2 — the 12-bit DICOM DCT shape, incl.
  * Pq=1 16-bit quantization tables) through [[decode12]]. With every
  * T.81 Huffman process and both 8-bit arithmetic DCT processes
  * covered, what remains refused — 12-bit arithmetic (SOF9 P=12),
  * lossless arithmetic (SOF11), hierarchical/differential (SOF5-7,
  * SOF13-15), CMYK, truncated or corrupt streams — yields None,
  * never an exception: corrupt shards in a 100 TB crawl must skip,
  * not kill the stage (same contract as [[GzipCodec]]/[[TarCodec]]).
  *
  * The inverse pipeline is a FIXED INTEGER SPEC shared bit-for-bit
  * with the independent from-scratch Python golden writer/decoder in
  * `tools/jpeg_golden.py` (which produced the committed fixtures in
  * `tools/fixtures/q_jpeg_decode/`):
  *
  *  - dequantize: `coef * q` exactly;
  *  - IDCT: 14-bit fixed-point basis `T(u)(x) = round(16384 * c(u)/2 *
  *    cos((2x+1)u pi/16))`, `acc = sum F(v)(u) T(u)(x) T(v)(y)` in
  *    Long, `sample = clamp(128 + ((acc + 2^27) >> 28))`;
  *  - chroma upsampling: replicate `(x / hRatio, y / vRatio)`;
  *  - YCbCr→RGB: 16-bit fixed point, `R = clamp(Y + ((91881 Cr' +
  *    32768) >> 16))` etc.
  *
  * Integer arithmetic end-to-end means the Scala decode is EXACTLY
  * reproducible against the Python pipeline — pinned per-pixel by
  * JpegCodecSpec and oracle-graded by q_jpeg_decode.
  *
  * JPEG itself leaves the IDCT implementation-defined (10918-1 only
  * bounds accuracy); any fixed rounding discipline is a conforming
  * choice, and fixing one is what makes the result hashable.
  */
object JpegCodec {

  /** Decoded image: `pixels` is row-major, channel-interleaved
    * (RGB triplets for 3-component frames, single bytes for gray). */
  final case class JpegImage(width: Int, height: Int, channels: Int, pixels: Array[Byte])

  /** Decode-size envelope (the [[Hdf5Codec.MaxElements]] discipline):
    * a 16-byte header claiming 65535x65535 would otherwise allocate
    * ~12 GB on an executor before a single entropy bit is read —
    * untrusted-corpus scans need the cap, not the OOM. 64 Mpx covers
    * any sane training-corpus image. */
  val MaxPixels: Long = 1L << 26

  // 14-bit fixed-point IDCT basis (generated once by tools/jpeg_golden.py)
  private val IdctT: Array[Array[Int]] = Array(
    Array(5793, 5793, 5793, 5793, 5793, 5793, 5793, 5793),
    Array(8035, 6811, 4551, 1598, -1598, -4551, -6811, -8035),
    Array(7568, 3135, -3135, -7568, -7568, -3135, 3135, 7568),
    Array(6811, -1598, -8035, -4551, 4551, 8035, 1598, -6811),
    Array(5793, -5793, -5793, 5793, 5793, -5793, -5793, 5793),
    Array(4551, -8035, 1598, 6811, -6811, -1598, 8035, -4551),
    Array(3135, -7568, 7568, -3135, -3135, 7568, -7568, 3135),
    Array(1598, -4551, 6811, -8035, 8035, -6811, 4551, -1598))

  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // ------------------------------------------------------------- encode
  //
  // The SHARED INTEGER ENCODE SPEC (mirrored by the independent Python
  // integer encoder in tools/jpeg_golden.py, whose output the spec pins
  // byte-for-byte):
  //   RGB→YCbCr 16-bit fixed point (arithmetic-shift floor);
  //   FDCT through the SAME 14-bit basis table as the IDCT:
  //     F(v)(u) = (Σ_xy (s(y)(x)-128) T(u)(x) T(v)(y) + 2^27) >> 28;
  //   quantize round-half-away-from-zero: sgn(F)·((2|F| + q) / (2q));
  //   Annex-K Huffman tables, 4:4:4 (no subsampling) or grayscale;
  //   blocks pad by edge replication.

  private val DcLumaBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals = (0 to 11).toArray
  private val DcChromaBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val AcLumaBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumaVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
    0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)
  private val AcChromaBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromaVals = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15,
    0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17,
    0x18, 0x19, 0x1a, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5,
    0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9,
    0xda, 0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)
  private val QuantLuma = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)
  private val QuantChroma = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** Canonical codes: value -> (code, length). */
  private def huffCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    val m = Map.newBuilder[Int, (Int, Int)]
    var code = 0; var k = 0; var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) { m += vals(k) -> ((code, len)); code += 1; k += 1; i += 1 }
      code <<= 1; len += 1
    }
    m.result()
  }

  private final class BitWriter {
    val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var n = 0
    def put(value: Int, length: Int): Unit = {
      var i = length - 1
      while (i >= 0) {
        acc = (acc << 1) | ((value >> i) & 1)
        n += 1
        if (n == 8) {
          out.write(acc & 0xff)
          if ((acc & 0xff) == 0xff) out.write(0x00) // byte stuffing
          acc = 0; n = 0
        }
        i -= 1
      }
    }
    def align(): Unit = if (n > 0) put((1 << (8 - n)) - 1, 8 - n)
  }

  private def category(v: Int): Int = {
    var a = math.abs(v); var s = 0
    while (a != 0) { a >>= 1; s += 1 }
    s
  }

  /** FDCT + quantize per the shared integer spec; samples 0..255
    * row-major; returns natural-order (row v, col u) coefficients. */
  private def fdctQuant(samples: Array[Int], quant: Array[Int]): Array[Int] = {
    val out = new Array[Int](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0L
        var x = 0
        while (x < 8) {
          val tu = IdctT(u)(x).toLong
          var y = 0
          while (y < 8) {
            acc += (samples(y * 8 + x) - 128) * tu * IdctT(v)(y)
            y += 1
          }
          x += 1
        }
        val f = ((acc + (1L << 27)) >> 28).toInt
        val q = quant(v * 8 + u)
        val aq = (2 * math.abs(f) + q) / (2 * q)
        out(v * 8 + u) = if (f >= 0) aq else -aq
        v += 1
      }
      u += 1
    }
    out
  }

  private def encodeBlock(bw: BitWriter, coefs: Array[Int], pred: Int,
      dc: Map[Int, (Int, Int)], ac: Map[Int, (Int, Int)]): Int = {
    val zz = Array.tabulate(64)(i => coefs(Zigzag(i)))
    val diff = zz(0) - pred
    val s = category(diff)
    val (c0, l0) = dc(s)
    bw.put(c0, l0)
    if (s != 0) bw.put(if (diff > 0) diff else diff + (1 << s) - 1, s)
    var last = 63
    while (last > 0 && zz(last) == 0) last -= 1
    var run = 0
    var k = 1
    while (k <= last) {
      if (zz(k) == 0) run += 1
      else {
        while (run > 15) { val (cz, lz) = ac(0xf0); bw.put(cz, lz); run -= 16 }
        val s2 = category(zz(k))
        val (ca, la) = ac((run << 4) | s2)
        bw.put(ca, la)
        bw.put(if (zz(k) > 0) zz(k) else zz(k) + (1 << s2) - 1, s2)
        run = 0
      }
      k += 1
    }
    if (last < 63) { val (ce, le) = ac(0x00); bw.put(ce, le) }
    zz(0)
  }

  private def seg(out: java.io.ByteArrayOutputStream, marker: Int,
      payload: Array[Byte]): Unit = {
    out.write(0xff); out.write(marker)
    out.write(be(payload.length + 2, 2))
    out.write(payload, 0, payload.length)
  }

  private def zzBytes(q: Array[Int]): Array[Byte] =
    Array.tabulate(64)(i => q(Zigzag(i)).toByte)

  /** One 8x8 block of a plane with edge replication past the borders. */
  private def block(plane: Array[Int], w: Int, h: Int, bx: Int, by: Int): Array[Int] =
    Array.tabulate(64) { i =>
      val y = math.min(by * 8 + i / 8, h - 1)
      val x = math.min(bx * 8 + i % 8, w - 1)
      plane(y * w + x)
    }

  /** Encode a baseline JPEG per the shared integer spec: grayscale
    * (channels = 1) or RGB 4:4:4 (channels = 3), Annex-K tables, no
    * subsampling — byte-identical to the independent Python integer
    * encoder (spec-pinned), so the sink's output is reproducible
    * across engines. `pixels` row-major, channel-interleaved. */
  def encode(width: Int, height: Int, channels: Int, pixels: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, "empty image")
    require(width <= 65535 && height <= 65535, "JPEG dimension fields are 16-bit")
    require(channels == 1 || channels == 3, s"channels=$channels (1 or 3)")
    require(pixels.length == width * height * channels,
      s"${pixels.length} bytes != $width*$height*$channels")
    val dcL = huffCodes(DcLumaBits, DcVals)
    val acL = huffCodes(AcLumaBits, AcLumaVals)
    val dcC = huffCodes(DcChromaBits, DcVals)
    val acC = huffCodes(AcChromaBits, AcChromaVals)
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8)
    seg(out, 0xe0, Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    val bh = (height + 7) / 8
    val bw_ = (width + 7) / 8
    val bw = new BitWriter

    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Array[Byte] =
      (Array((cls << 4) | id) ++ bits ++ vals).map(_.toByte)

    if (channels == 1) {
      val plane = Array.tabulate(width * height)(i => pixels(i) & 0xff)
      seg(out, 0xdb, Array[Byte](0) ++ zzBytes(QuantLuma))
      seg(out, 0xc0, Array[Byte](8) ++ be(height, 2) ++ be(width, 2) ++
        Array[Byte](1, 1, 0x11, 0))
      seg(out, 0xc4, dht(0, 0, DcLumaBits, DcVals))
      seg(out, 0xc4, dht(1, 0, AcLumaBits, AcLumaVals))
      seg(out, 0xda, Array[Byte](1, 1, 0x00, 0, 63, 0))
      var pred = 0
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < bw_) {
          pred = encodeBlock(bw,
            fdctQuant(block(plane, width, height, bx, by), QuantLuma), pred, dcL, acL)
          bx += 1
        }
        by += 1
      }
    } else {
      val yp = new Array[Int](width * height)
      val cbp = new Array[Int](width * height)
      val crp = new Array[Int](width * height)
      var i = 0
      while (i < width * height) {
        val r = pixels(i * 3) & 0xff
        val g = pixels(i * 3 + 1) & 0xff
        val b = pixels(i * 3 + 2) & 0xff
        yp(i) = clamp255((19595 * r + 38470 * g + 7471 * b + 32768) >> 16)
        cbp(i) = clamp255(((-11059 * r - 21709 * g + 32768 * b + 32768) >> 16) + 128)
        crp(i) = clamp255(((32768 * r - 27439 * g - 5329 * b + 32768) >> 16) + 128)
        i += 1
      }
      seg(out, 0xdb, Array[Byte](0) ++ zzBytes(QuantLuma))
      seg(out, 0xdb, Array[Byte](1) ++ zzBytes(QuantChroma))
      seg(out, 0xc0, Array[Byte](8) ++ be(height, 2) ++ be(width, 2) ++
        Array[Byte](3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1))
      seg(out, 0xc4, dht(0, 0, DcLumaBits, DcVals))
      seg(out, 0xc4, dht(1, 0, AcLumaBits, AcLumaVals))
      seg(out, 0xc4, dht(0, 1, DcChromaBits, DcVals))
      seg(out, 0xc4, dht(1, 1, AcChromaBits, AcChromaVals))
      seg(out, 0xda, Array[Byte](3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0))
      val preds = new Array[Int](3)
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < bw_) {
          preds(0) = encodeBlock(bw,
            fdctQuant(block(yp, width, height, bx, by), QuantLuma), preds(0), dcL, acL)
          preds(1) = encodeBlock(bw,
            fdctQuant(block(cbp, width, height, bx, by), QuantChroma), preds(1), dcC, acC)
          preds(2) = encodeBlock(bw,
            fdctQuant(block(crp, width, height, bx, by), QuantChroma), preds(2), dcC, acC)
          bx += 1
        }
        by += 1
      }
    }
    bw.align()
    val data = bw.out.toByteArray
    out.write(data, 0, data.length)
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  /** Entropy-coded-segment bit reader with 0xFF00 byte unstuffing. */
  private final class BitReader(d: Array[Byte], var p: Int) {
    private var acc = 0
    private var n = 0
    def byteAlign(): Unit = { acc = 0; n = 0 }
    /** Low byte of an RSTn marker at the current (aligned) position, or -1. */
    def peekRst(): Int =
      if (p + 1 < d.length && (d(p) & 0xff) == 0xff &&
          (d(p + 1) & 0xff) >= 0xd0 && (d(p + 1) & 0xff) <= 0xd7) d(p + 1) & 0xff
      else -1
    def skipMarker(): Unit = { p += 2; byteAlign() }
    def bit(): Int = {
      if (n == 0) {
        if (p >= d.length) refuse()
        val b = d(p) & 0xff; p += 1
        if (b == 0xff) {
          if (p >= d.length) refuse()
          if ((d(p) & 0xff) == 0x00) p += 1
          else refuse() // marker inside entropy data = truncated scan
        }
        acc = b; n = 8
      }
      n -= 1
      (acc >> n) & 1
    }
    def bits(k: Int): Int = {
      var v = 0; var i = 0
      while (i < k) { v = (v << 1) | bit(); i += 1 }
      v
    }
  }

  /** Canonical Huffman decode table keyed (length << 16) | code. */
  private def huffTable(bits: Array[Int], vals: Array[Int]): mutable.HashMap[Int, Int] = {
    val t = new mutable.HashMap[Int, Int]
    var code = 0; var k = 0; var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        if (k >= vals.length) refuse()
        t.put((len << 16) | code, vals(k)); code += 1; k += 1; i += 1
      }
      code <<= 1; len += 1
    }
    t
  }

  private def readHuff(br: BitReader, t: mutable.HashMap[Int, Int]): Int = {
    var code = 0; var len = 1
    while (len <= 16) {
      code = (code << 1) | br.bit()
      val v = t.getOrElse((len << 16) | code, -1)
      if (v >= 0) return v
      len += 1
    }
    refuse()
  }

  private def extend(v: Int, s: Int): Int =
    if (s != 0 && v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** The shared fixed-point IDCT; F is natural (row, col) order. */
  private def idctBlock(f: Array[Int], out: Array[Int]): Unit = {
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0L
        var u = 0
        while (u < 8) {
          val tu = IdctT(u)(x).toLong
          var v = 0
          while (v < 8) {
            acc += f(v * 8 + u) * tu * IdctT(v)(y)
            v += 1
          }
          u += 1
        }
        val s = 128 + ((acc + (1L << 27)) >> 28).toInt
        out(y * 8 + x) = if (s < 0) 0 else if (s > 255) 255 else s
        x += 1
      }
      y += 1
    }
  }

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private final case class Comp(id: Int, h: Int, v: Int, tq: Int)

  /** Accumulated progressive (SOF2) frame state: per-component
    * MCU-padded coefficient grids (natural order, 64 ints per block)
    * filled in by successive scans — spectral-selection bands and
    * successive-approximation bit planes per ITU-T T.81 G.2 — then
    * dequantized + IDCTed once at EOI. Scan-assembly algorithms
    * mirror the independent Python encoder/decoder pair in
    * `tools/jpeg_progressive_golden.py` (shared integer spec).
    *
    * Geometry: interleaved DC scans cover the full MCU-padded block
    * grid; non-interleaved scans cover only the ceil(samples/8)
    * sub-grid (T.81 A.2.2), so MCU-pad blocks legitimately end with
    * DC-only coefficients — they're cropped by assembly anyway. */
  private final class ProgState(val width: Int, val height: Int,
      val comps: Array[Comp]) {
    val nc: Int = comps.length
    var hmax = 1; var vmax = 1
    comps.foreach { c => hmax = math.max(hmax, c.h); vmax = math.max(vmax, c.v) }
    val mcux: Int = (width + 8 * hmax - 1) / (8 * hmax)
    val mcuy: Int = (height + 8 * vmax - 1) / (8 * vmax)
    val gw: Array[Int] = Array.tabulate(nc)(i => mcux * comps(i).h)
    val gh: Array[Int] = Array.tabulate(nc)(i => mcuy * comps(i).v)
    val cbw: Array[Int] = Array.tabulate(nc) { i =>
      ((width * comps(i).h + hmax - 1) / hmax + 7) / 8
    }
    val cbh: Array[Int] = Array.tabulate(nc) { i =>
      ((height * comps(i).v + vmax - 1) / vmax + 7) / 8
    }
    locally {
      // same decode-size envelope as the baseline path: the grids are
      // 4-byte ints, bounded BEFORE allocation
      var paddedSamples = 0L
      var i = 0
      while (i < nc) { paddedSamples += gw(i).toLong * 8 * gh(i) * 8; i += 1 }
      if (paddedSamples > MaxPixels * 8) refuse()
    }
    val grids: Array[Array[Int]] =
      Array.tabulate(nc)(i => new Array[Int](gw(i) * gh(i) * 64))
    var sawScan = false

    /** One scan's data units; returns the byte offset of the next
      * marker after the entropy segment. */
    def scan(d: Array[Byte], start: Int, cis: Array[Int],
        dcTid: Array[Int], acTid: Array[Int], ss: Int, se: Int,
        ah: Int, al: Int, restart: Int,
        huffDc: Array[mutable.HashMap[Int, Int]],
        huffAc: Array[mutable.HashMap[Int, Int]]): Int = {
      val isDc = ss == 0
      if (isDc && se != 0) refuse()
      if (!isDc && (cis.length != 1 || ss > se || se > 63)) refuse()
      if (ah > 13 || al > 13) refuse()
      val br = new BitReader(d, start)
      var eobrun = 0
      if (cis.length > 1) {
        // interleaved DC scan in MCU order over the padded grid
        val dcT = Array.tabulate(cis.length) { j =>
          if (ah == 0) {
            val t = huffDc(dcTid(cis(j))); if (t == null) refuse(); t
          } else null
        }
        val preds = new Array[Int](nc)
        var mcu = 0; var rst = 0
        var my = 0
        while (my < mcuy) {
          var mx = 0
          while (mx < mcux) {
            if (restart > 0 && mcu > 0 && mcu % restart == 0) {
              br.byteAlign()
              if (br.peekRst() != 0xd0 + (rst & 7)) refuse()
              br.skipMarker()
              rst += 1
              java.util.Arrays.fill(preds, 0)
            }
            var j = 0
            while (j < cis.length) {
              val ci = cis(j); val c = comps(ci)
              var by = 0
              while (by < c.v) {
                var bx = 0
                while (bx < c.h) {
                  val bi = ((my * c.v + by) * gw(ci) + (mx * c.h + bx)) * 64
                  dcUnit(br, grids(ci), bi, preds, ci, ah, al, dcT(j))
                  bx += 1
                }
                by += 1
              }
              j += 1
            }
            mcu += 1; mx += 1
          }
          my += 1
        }
      } else {
        // non-interleaved: raster over the component's ceil sub-grid
        val ci = cis(0)
        val dcT =
          if (isDc && ah == 0) {
            val t = huffDc(dcTid(ci)); if (t == null) refuse(); t
          } else null
        val acT =
          if (!isDc) {
            val t = huffAc(acTid(ci)); if (t == null) refuse(); t
          } else null
        val preds = new Array[Int](nc)
        var n = 0; var rst = 0
        var by = 0
        while (by < cbh(ci)) {
          var bx = 0
          while (bx < cbw(ci)) {
            if (restart > 0 && n > 0 && n % restart == 0) {
              br.byteAlign()
              if (br.peekRst() != 0xd0 + (rst & 7)) refuse()
              br.skipMarker()
              rst += 1
              java.util.Arrays.fill(preds, 0)
              eobrun = 0
            }
            val bi = (by * gw(ci) + bx) * 64
            if (isDc) dcUnit(br, grids(ci), bi, preds, ci, ah, al, dcT)
            else if (ah == 0) eobrun = acFirst(br, acT, grids(ci), bi, ss, se, al, eobrun)
            else eobrun = acRefine(br, acT, grids(ci), bi, ss, se, al, eobrun)
            n += 1; bx += 1
          }
          by += 1
        }
      }
      if (eobrun != 0) refuse() // EOB run spilling past the last block
      sawScan = true
      // resume the marker walk at the next real marker (pad bits and
      // stuffed FF00 pairs may trail the last consumed entropy byte)
      var q = br.p
      while (q + 1 < d.length &&
          !((d(q) & 0xff) == 0xff && (d(q + 1) & 0xff) != 0)) q += 1
      if (q + 1 >= d.length) refuse()
      q
    }

    /** One arithmetic-coded progressive scan (SOF10; T.81 Annex G
      * with the QM models of F.2.4 — jointly graded against libjpeg's
      * own decode via the q_jpeg_arith goldens). DC first scans run
      * the sequential DC model and seed coef<<al; DC refinement is one
      * fixed-probability bit per block; AC first scans are the
      * sequential AC model with a per-k EOB decision and coef<<al; AC
      * refinement walks history (correction bit at S0+2 for known
      * coefficients, newly-nonzero at S0+1 with a fixed-probability
      * sign), with the EOB decision active only past the previous
      * stage's last nonzero index. Statistics reset per scan and at
      * every restart. Returns the offset of the next marker. */
    def scanArith(d: Array[Byte], start: Int, cis: Array[Int],
        dcTid: Array[Int], acTid: Array[Int], ss: Int, se: Int,
        ah: Int, al: Int, restart: Int,
        dcLa: Array[Int], dcUa: Array[Int], acKa: Array[Int]): Int = {
      val isDc = ss == 0
      if (isDc && se != 0) refuse()
      if (!isDc && (cis.length != 1 || ss > se || se > 63)) refuse()
      if (ah > 13 || al > 13) refuse()
      val dcStats = Array.fill(16)(new Array[Byte](64))
      val acStats = Array.fill(16)(new Array[Byte](256))
      val fixedBin = Array[Byte](113.toByte)
      var qm = new QmDecoder(d, start)
      val preds = new Array[Int](nc)
      val dcCtx = new Array[Int](nc)

      def reset(rstIdx: Int): Unit = {
        val q = nextMarkerFrom(d, qm.bp)
        if ((d(q + 1) & 0xff) != 0xd0 + (rstIdx & 7)) refuse()
        qm = new QmDecoder(d, q + 2)
        java.util.Arrays.fill(preds, 0)
        java.util.Arrays.fill(dcCtx, 0)
        var t = 0
        while (t < 16) {
          java.util.Arrays.fill(dcStats(t), 0.toByte)
          java.util.Arrays.fill(acStats(t), 0.toByte)
          t += 1
        }
      }

      def dcBlock(ci: Int, bi: Int): Unit =
        if (ah == 0) {
          arithDcDiff(qm, dcStats(dcTid(ci)), ci, preds, dcCtx,
            dcLa(dcTid(ci)), dcUa(dcTid(ci)))
          grids(ci)(bi) = preds(ci) << al
        } else {
          if (qm.decode(fixedBin, 0) != 0) grids(ci)(bi) |= 1 << al
        }

      if (cis.length > 1) {
        // interleaved DC scan in MCU order over the padded grid
        if (!isDc) refuse()
        var mcu = 0; var rst = 0
        var my = 0
        while (my < mcuy) {
          var mx = 0
          while (mx < mcux) {
            if (restart > 0 && mcu > 0 && mcu % restart == 0) {
              reset(rst); rst += 1
            }
            var j = 0
            while (j < cis.length) {
              val ci = cis(j); val c = comps(ci)
              var by = 0
              while (by < c.v) {
                var bx = 0
                while (bx < c.h) {
                  val bi = ((my * c.v + by) * gw(ci) + (mx * c.h + bx)) * 64
                  dcBlock(ci, bi)
                  bx += 1
                }
                by += 1
              }
              j += 1
            }
            mcu += 1; mx += 1
          }
          my += 1
        }
      } else {
        // non-interleaved: raster over the component's ceil sub-grid
        val ci = cis(0)
        val ast = acStats(acTid(ci))
        val kx = acKa(acTid(ci))
        val g = grids(ci)
        var n = 0; var rst = 0
        var by = 0
        while (by < cbh(ci)) {
          var bx = 0
          while (bx < cbw(ci)) {
            if (restart > 0 && n > 0 && n % restart == 0) {
              reset(rst); rst += 1
            }
            val bi = (by * gw(ci) + bx) * 64
            if (isDc) dcBlock(ci, bi)
            else if (ah == 0) {
              // T.81 Figure G.5: Decode_AC_coefficients, first stage
              var k = ss
              var done = false
              while (k <= se && !done) {
                var base = 3 * (k - 1)
                if (qm.decode(ast, base) != 0) done = true // EOB
                else {
                  while (qm.decode(ast, base + 1) == 0) {
                    k += 1
                    if (k > se) refuse()
                    base = 3 * (k - 1)
                  }
                  val sign = qm.decode(fixedBin, 0)
                  var ptr = base + 2
                  var m = qm.decode(ast, ptr)
                  if (m != 0 && qm.decode(ast, ptr) != 0) {
                    m = 2
                    ptr = if (k <= kx) 189 else 217
                    while (qm.decode(ast, ptr) != 0) {
                      m <<= 1
                      if (m == 0x8000) refuse()
                      ptr += 1
                    }
                  }
                  var v = m
                  ptr += 14
                  var mm = m
                  while (mm > 1) {
                    mm >>= 1
                    if (qm.decode(ast, ptr) != 0) v |= mm
                  }
                  v += 1
                  if (sign != 0) v = -v
                  g(bi + Zigzag(k)) = v << al
                  k += 1
                }
              }
            } else {
              // T.81 G.2.3: AC refinement
              val p1 = 1 << al
              val m1 = -1 << al
              var kex = se
              while (kex > 0 && g(bi + Zigzag(kex)) == 0) kex -= 1
              var k = ss
              var done = false
              while (k <= se && !done) {
                var base = 3 * (k - 1)
                if (k > kex && qm.decode(ast, base) != 0) done = true
                else {
                  var settled = false
                  while (!settled) {
                    val z = bi + Zigzag(k)
                    if (g(z) != 0) {
                      if (qm.decode(ast, base + 2) != 0)
                        g(z) += (if (g(z) < 0) m1 else p1)
                      settled = true
                    } else if (qm.decode(ast, base + 1) != 0) {
                      g(z) = if (qm.decode(fixedBin, 0) != 0) m1 else p1
                      settled = true
                    } else {
                      k += 1
                      if (k > se) refuse()
                      base = 3 * (k - 1)
                    }
                  }
                  k += 1
                }
              }
            }
            n += 1; bx += 1
          }
          by += 1
        }
      }
      sawScan = true
      nextMarkerFrom(d, qm.bp)
    }

    /** DC data unit: first scan decodes a diff and seeds coef<<al;
      * refinement appends one raw bit at position al. */
    private def dcUnit(br: BitReader, g: Array[Int], bi: Int,
        preds: Array[Int], ci: Int, ah: Int, al: Int,
        dcT: mutable.HashMap[Int, Int]): Unit =
      if (ah == 0) {
        val s = readHuff(br, dcT)
        if (s > 11) refuse()
        val diff = if (s != 0) extend(br.bits(s), s) else 0
        preds(ci) += diff
        g(bi) = preds(ci) << al
      } else {
        if (br.bit() != 0) g(bi) |= 1 << al
      }

    /** AC first scan (T.81 G.2.2 / libjpeg decode_mcu_AC_first):
      * EOB-run aware band decode; returns the remaining EOB run. */
    private def acFirst(br: BitReader, acT: mutable.HashMap[Int, Int],
        g: Array[Int], bi: Int, ss: Int, se: Int, al: Int,
        eobrun0: Int): Int = {
      if (eobrun0 > 0) return eobrun0 - 1
      var k = ss
      while (k <= se) {
        val rs = readHuff(br, acT)
        val r = rs >> 4; val s = rs & 0x0f
        if (s == 0) {
          if (r != 15) {
            var run = 1 << r
            if (r > 0) run += br.bits(r)
            return run - 1 // this block is one of the run
          }
          k += 16 // ZRL
        } else {
          k += r
          if (k > se) refuse()
          g(bi + Zigzag(k)) = extend(br.bits(s), s) << al
          k += 1
        }
      }
      0
    }

    /** AC refinement scan (T.81 G.2.3 / libjpeg decode_mcu_AC_refine):
      * correction bits for known-nonzero coefficients interleaved with
      * newly-nonzero ±1<<al insertions; returns the remaining EOB run
      * (EOB-run blocks still refine their nonzero coefficients). */
    private def acRefine(br: BitReader, acT: mutable.HashMap[Int, Int],
        g: Array[Int], bi: Int, ss: Int, se: Int, al: Int,
        eobrun0: Int): Int = {
      var eobrun = eobrun0
      val p1 = 1 << al
      val m1 = -1 << al
      var k = ss
      if (eobrun == 0) {
        var eob = false
        while (k <= se && !eob) {
          val rs = readHuff(br, acT)
          var r = rs >> 4; val s = rs & 0x0f
          var newval = 0
          if (s == 0) {
            if (r != 15) {
              eobrun = 1 << r
              if (r > 0) eobrun += br.bits(r)
              eob = true
            }
            // r == 15: ZRL — skip 16 zero-history coefficients below
          } else {
            if (s != 1) refuse() // magnitude must be 1 in refinement
            newval = if (br.bit() != 0) p1 else m1
          }
          if (!eob) {
            var advancing = true
            while (k <= se && advancing) {
              val z = bi + Zigzag(k)
              if (g(z) != 0) {
                if (br.bit() != 0 && (g(z) & p1) == 0)
                  g(z) += (if (g(z) >= 0) p1 else m1)
                k += 1
              } else if (r == 0) advancing = false
              else { r -= 1; k += 1 }
            }
            if (newval != 0) {
              if (k > se) refuse()
              g(bi + Zigzag(k)) = newval
            }
            k += 1
          }
        }
      }
      if (eobrun > 0) {
        // end-of-band: remaining positions still carry correction bits
        // for already-nonzero coefficients
        while (k <= se) {
          val z = bi + Zigzag(k)
          if (g(z) != 0) {
            if (br.bit() != 0 && (g(z) & p1) == 0)
              g(z) += (if (g(z) >= 0) p1 else m1)
          }
          k += 1
        }
        eobrun -= 1
      }
      eobrun
    }

    /** Dequantize + IDCT every block, then the shared assembly. */
    def reconstruct(quant: Array[Array[Int]]): JpegImage = {
      comps.foreach { c => if (quant(c.tq) == null) refuse() }
      val planeW = Array.tabulate(nc)(i => gw(i) * 8)
      val planes = Array.tabulate(nc)(i => new Array[Int](gw(i) * 8 * gh(i) * 8))
      val zz = new Array[Int](64)
      val blk = new Array[Int](64)
      var ci = 0
      while (ci < nc) {
        val q = quant(comps(ci).tq)
        val g = grids(ci)
        val pw = planeW(ci)
        var by = 0
        while (by < gh(ci)) {
          var bx = 0
          while (bx < gw(ci)) {
            val bi = (by * gw(ci) + bx) * 64
            var j = 0
            while (j < 64) { zz(j) = g(bi + j) * q(j); j += 1 }
            idctBlock(zz, blk)
            val y0 = by * 8; val x0 = bx * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                planes(ci)((y0 + yy) * pw + x0 + xx) = blk(yy * 8 + xx)
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      assembleImage(width, height, nc, comps, hmax, vmax, planeW, planes)
    }
  }

  /** Decode a baseline JPEG; None for anything outside the supported
    * profile or any malformed stream. Never throws. */
  def decode(bytes: Array[Byte]): Option[JpegImage] =
    try Some(decodeOrRefuse(bytes))
    catch { case _: RuntimeException => None } // refusals and index faults

  private def decodeOrRefuse(d: Array[Byte]): JpegImage = {
    if (d.length < 4 || (d(0) & 0xff) != 0xff || (d(1) & 0xff) != 0xd8) refuse()
    var p = 2
    val quant = new Array[Array[Int]](4)
    val huffDc = new Array[mutable.HashMap[Int, Int]](4)
    val huffAc = new Array[mutable.HashMap[Int, Int]](4)
    var width = 0; var height = 0
    var comps: Array[Comp] = null
    var restart = 0
    var prog: ProgState = null
    var pNext = -1
    var arith = false
    // DAC conditioning (T.81 B.2.4.3), default L=0 / U=1 / Kx=5 (F.1.4.4.1.4)
    val dcLa = Array.fill(16)(0)
    val dcUa = Array.fill(16)(1)
    val acKa = Array.fill(16)(5)

    while (true) {
      if (p + 1 >= d.length || (d(p) & 0xff) != 0xff) refuse()
      val m = d(p + 1) & 0xff
      if (m == 0xd9) {
        // EOI: a progressive frame reconstructs here from the
        // accumulated coefficient grids; for baseline it means no SOS
        // arrived — malformed
        if (prog != null && prog.sawScan) return prog.reconstruct(quant)
        refuse()
      }
      val ln = be16(d, p + 2)
      if (ln < 2 || p + 2 + ln > d.length) refuse()
      val bo = p + 4 // body offset, length ln - 2
      val bend = p + 2 + ln
      m match {
        case 0xdb => // DQT (possibly several tables)
          var q = bo
          while (q < bend) {
            val pq = (d(q) & 0xff) >> 4
            val tid = d(q) & 0x0f
            if (pq != 0 || tid > 3 || q + 65 > bend) refuse() // 8-bit tables only
            val tab = new Array[Int](64)
            var i = 0
            while (i < 64) { tab(Zigzag(i)) = d(q + 1 + i) & 0xff; i += 1 }
            quant(tid) = tab
            q += 65
          }
        case 0xc4 => // DHT (possibly several tables)
          var q = bo
          while (q < bend) {
            val tc = (d(q) & 0xff) >> 4
            val th = d(q) & 0x0f
            if (tc > 1 || th > 3 || q + 17 > bend) refuse()
            val bits = Array.tabulate(16)(i => d(q + 1 + i) & 0xff)
            val nv = bits.sum
            if (q + 17 + nv > bend || nv > 256) refuse()
            val vals = Array.tabulate(nv)(i => d(q + 17 + i) & 0xff)
            val t = huffTable(bits, vals)
            if (tc == 0) huffDc(th) = t else huffAc(th) = t
            q += 17 + nv
          }
        case 0xc0 | 0xc1 | 0xc2 | 0xc9 | 0xca =>
          // baseline / ext-sequential / progressive, Huffman (C0-C2)
          // or arithmetic (C9 sequential, CA progressive)
          if ((d(bo) & 0xff) != 8) refuse() // 8-bit precision only
          if (comps != null) refuse() // second frame header
          height = be16(d, bo + 1); width = be16(d, bo + 3)
          val nc = d(bo + 5) & 0xff
          if (width == 0 || height == 0 || (nc != 1 && nc != 3)) refuse()
          if (width.toLong * height > MaxPixels) refuse()
          if (bo + 6 + 3 * nc > bend) refuse()
          comps = Array.tabulate(nc) { i =>
            val cid = d(bo + 6 + 3 * i) & 0xff
            val hv = d(bo + 7 + 3 * i) & 0xff
            val c = Comp(cid, hv >> 4, hv & 0x0f, d(bo + 8 + 3 * i) & 0xff)
            if (c.h < 1 || c.h > 2 || c.v < 1 || c.v > 2 || c.tq > 3) refuse()
            c
          }
          arith = m == 0xc9 || m == 0xca
          if (m == 0xc2 || m == 0xca) {
            // single-component progressive frames are wholly
            // non-interleaved: force 1x1 like the baseline scan path
            val cs = if (nc == 1) Array(comps(0).copy(h = 1, v = 1)) else comps
            prog = new ProgState(width, height, cs)
          }
        case 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xcb | 0xcd | 0xce | 0xcf =>
          refuse() // lossless / differential: out of profile here
        case 0xcc => // DAC — arithmetic conditioning (T.81 B.2.4.3)
          var q = bo
          while (q < bend) {
            if (q + 2 > bend) refuse()
            val tc = (d(q) & 0xff) >> 4
            val tb = d(q) & 0x0f
            val cs = d(q + 1) & 0xff
            if (tc == 0) {
              val lo = cs & 0x0f; val hi = cs >> 4
              if (lo > hi) refuse()
              dcLa(tb) = lo; dcUa(tb) = hi
            } else if (tc == 1) {
              if (cs < 1 || cs > 63) refuse()
              acKa(tb) = cs
            } else refuse()
            q += 2
          }
        case 0xdd => // DRI
          if (ln != 4) refuse()
          restart = be16(d, bo)
        case 0xda if prog != null => // SOS — one progressive scan
          val ns = d(bo) & 0xff
          if (ns < 1 || ns > prog.nc || bo + 1 + 2 * ns + 3 > bend) refuse()
          val cis = new Array[Int](ns)
          val dcTid = new Array[Int](prog.nc)
          val acTid = new Array[Int](prog.nc)
          var i = 0
          while (i < ns) {
            val cs = d(bo + 1 + 2 * i) & 0xff
            val ci = prog.comps.indexWhere(_.id == cs)
            if (ci < 0) refuse()
            cis(i) = ci
            val tt = d(bo + 2 + 2 * i) & 0xff
            dcTid(ci) = tt >> 4; acTid(ci) = tt & 0x0f
            if (dcTid(ci) > 3 || acTid(ci) > 3) refuse()
            i += 1
          }
          val ss = d(bo + 1 + 2 * ns) & 0xff
          val se = d(bo + 2 + 2 * ns) & 0xff
          val ahal = d(bo + 3 + 2 * ns) & 0xff
          pNext =
            if (arith) prog.scanArith(d, bend, cis, dcTid, acTid, ss, se,
              ahal >> 4, ahal & 0x0f, restart, dcLa, dcUa, acKa)
            else prog.scan(d, bend, cis, dcTid, acTid, ss, se,
              ahal >> 4, ahal & 0x0f, restart, huffDc, huffAc)
        case 0xda => // SOS — single interleaved baseline scan
          if (comps == null) refuse()
          val ns = d(bo) & 0xff
          if (ns != comps.length || bo + 1 + 2 * ns + 3 > bend) refuse()
          val scanDc = new Array[Int](comps.length)
          val scanAc = new Array[Int](comps.length)
          var i = 0
          while (i < ns) {
            val cs = d(bo + 1 + 2 * i) & 0xff
            val ci = comps.indexWhere(_.id == cs)
            if (ci < 0) refuse()
            val tt = d(bo + 2 + 2 * i) & 0xff
            scanDc(ci) = tt >> 4; scanAc(ci) = tt & 0x0f
            i += 1
          }
          val ss = d(bo + 1 + 2 * ns) & 0xff
          val se = d(bo + 2 + 2 * ns) & 0xff
          val ahal = d(bo + 3 + 2 * ns) & 0xff
          if (ss != 0 || se != 63 || ahal != 0) refuse() // non-baseline scan
          if (arith)
            return decodeScanArith(d, bend, width, height, comps, scanDc,
              scanAc, quant, dcLa, dcUa, acKa, restart)
          return decodeScan(d, bend, width, height, comps, scanDc, scanAc,
            quant, huffDc, huffAc, restart)
        case _ => () // APPn, COM, others: skip
      }
      p = if (pNext >= 0) { val t = pNext; pNext = -1; t } else p + 2 + ln
    }
    refuse()
  }

  private def decodeScan(
      d: Array[Byte], scanStart: Int, width: Int, height: Int,
      comps0: Array[Comp], scanDc: Array[Int], scanAc: Array[Int],
      quant: Array[Array[Int]],
      huffDc: Array[mutable.HashMap[Int, Int]],
      huffAc: Array[mutable.HashMap[Int, Int]],
      restart: Int): JpegImage = {
    val nc = comps0.length
    // 10918-1: a single-component scan is NON-INTERLEAVED — one data
    // unit per MCU in raster order over ceil(w/8) x ceil(h/8),
    // regardless of the declared sampling factors (files converted
    // from 4:2:0 color keep h=v=2 on their only component). Forcing
    // 1x1 factors reproduces exactly that geometry.
    val comps = if (nc == 1) Array(comps0(0).copy(h = 1, v = 1)) else comps0
    var hmax = 1; var vmax = 1
    comps.foreach { c => hmax = math.max(hmax, c.h); vmax = math.max(vmax, c.v) }
    val mcux = (width + 8 * hmax - 1) / (8 * hmax)
    val mcuy = (height + 8 * vmax - 1) / (8 * vmax)
    // the MaxPixels check bounds w*h; the MCU-PADDED planes must be
    // bounded too, or a 1 x MaxPixels header allocates 16x that
    var paddedSamples = 0L
    comps.foreach { c =>
      paddedSamples += mcux.toLong * 8 * c.h * mcuy * 8 * c.v
    }
    if (paddedSamples > MaxPixels * 8) refuse()
    // per-component sample planes at full MCU-padded size
    val planeW = Array.tabulate(nc)(i => mcux * 8 * comps(i).h)
    val planes = Array.tabulate(nc)(i => new Array[Int](planeW(i) * mcuy * 8 * comps(i).v))
    comps.foreach { c =>
      if (quant(c.tq) == null) refuse()
    }
    var i = 0
    while (i < nc) {
      if (huffDc(scanDc(i)) == null || huffAc(scanAc(i)) == null) refuse()
      i += 1
    }

    val br = new BitReader(d, scanStart)
    val preds = new Array[Int](nc)
    val zz = new Array[Int](64)
    val blk = new Array[Int](64)
    var mcu = 0
    var rst = 0
    var my = 0
    while (my < mcuy) {
      var mx = 0
      while (mx < mcux) {
        if (restart > 0 && mcu > 0 && mcu % restart == 0) {
          br.byteAlign()
          if (br.peekRst() != 0xd0 + (rst & 7)) refuse()
          br.skipMarker()
          rst += 1
          java.util.Arrays.fill(preds, 0)
        }
        var ci = 0
        while (ci < nc) {
          val c = comps(ci)
          val q = quant(c.tq)
          val dcT = huffDc(scanDc(ci))
          val acT = huffAc(scanAc(ci))
          var by = 0
          while (by < c.v) {
            var bx = 0
            while (bx < c.h) {
              java.util.Arrays.fill(zz, 0)
              val s = readHuff(br, dcT)
              if (s > 11) refuse()
              val diff = if (s != 0) extend(br.bits(s), s) else 0
              preds(ci) += diff
              zz(0) = preds(ci) * q(0)
              var k = 1
              var done = false
              while (k < 64 && !done) {
                val rs = readHuff(br, acT)
                val r = rs >> 4
                val s2 = rs & 0x0f
                if (s2 == 0) {
                  if (r == 15) k += 16 // ZRL
                  else done = true // EOB
                } else {
                  k += r
                  if (k > 63) refuse()
                  zz(Zigzag(k)) = extend(br.bits(s2), s2) * q(Zigzag(k))
                  k += 1
                }
              }
              idctBlock(zz, blk)
              val y0 = (my * c.v + by) * 8
              val x0 = (mx * c.h + bx) * 8
              val pw = planeW(ci)
              val plane = planes(ci)
              var yy = 0
              while (yy < 8) {
                var xx = 0
                while (xx < 8) {
                  plane((y0 + yy) * pw + x0 + xx) = blk(yy * 8 + xx)
                  xx += 1
                }
                yy += 1
              }
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }

    assembleImage(width, height, nc, comps, hmax, vmax, planeW, planes)
  }

  /** Shared plane→image assembly (baseline + progressive): replicate
    * upsampling + fixed-point YCbCr→RGB per the shared decode spec. */
  private def assembleImage(width: Int, height: Int, nc: Int,
      comps: Array[Comp], hmax: Int, vmax: Int,
      planeW: Array[Int], planes: Array[Array[Int]]): JpegImage = {
    if (nc == 1) {
      val out = new Array[Byte](width * height)
      val pw = planeW(0)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          out(y * width + x) = planes(0)(y * pw + x).toByte
          x += 1
        }
        y += 1
      }
      JpegImage(width, height, 1, out)
    } else {
      val out = new Array[Byte](width * height * 3)
      // replicate-upsample EVERY component by its own ratio — luma too:
      // a conforming file may sample chroma finer than luma (Y 1x1,
      // C 2x2), in which case the LUMA plane is the subsampled one
      val hr0 = hmax / comps(0).h; val vr0 = vmax / comps(0).v
      val hr1 = hmax / comps(1).h; val vr1 = vmax / comps(1).v
      val hr2 = hmax / comps(2).h; val vr2 = vmax / comps(2).v
      val pw0 = planeW(0); val pw1 = planeW(1); val pw2 = planeW(2)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val yv = planes(0)((y / vr0) * pw0 + (x / hr0))
          val cb = planes(1)((y / vr1) * pw1 + (x / hr1)) - 128
          val cr = planes(2)((y / vr2) * pw2 + (x / hr2)) - 128
          val o = (y * width + x) * 3
          out(o) = clamp255(yv + ((91881 * cr + 32768) >> 16)).toByte
          out(o + 1) = clamp255(yv - ((22554 * cb + 46802 * cr + 32768) >> 16)).toByte
          out(o + 2) = clamp255(yv + ((116130 * cb + 32768) >> 16)).toByte
          x += 1
        }
        y += 1
      }
      JpegImage(width, height, 3, out)
    }
  }

  // -------------------------------------------- arithmetic (SOF9/SOF10)
  //
  // ITU-T T.81 Annexes D/E/F/G arithmetic (QM-coder) entropy decoding
  // for extended sequential (SOF9, process 3) and progressive (SOF10,
  // process 6) 8-bit DCT frames. Everything downstream of entropy
  // decode — dequantize, IDCT, upsample, color — is the SHARED integer
  // spec above, so an arithmetic file and a Huffman file carrying the
  // same quantized coefficients decode to identical pixels. The
  // committed fixtures in tools/fixtures/q_jpeg_arith/ were encoded by
  // libjpeg-turbo itself via tools/jpeg_arith_ref.c (the de-facto
  // reference implementation of T.81 arithmetic coding), and the
  // golden pixels derive from libjpeg's own coefficient decode
  // (jpeg_read_coefficients) — this decoder is graded end-to-end
  // against an independent implementation, not a shared one.

  /** ITU-T T.81 Table D.3: the Qe probability-estimation state machine,
    * packed per entry as (Qe << 16) | (NMPS << 8) | (Switch << 7) | NLPS.
    * Entry 113 is the non-adapting "fixed 0.5" bin used for sign and
    * refinement decisions (NLPS = NMPS = 113, no switch). Transcribed
    * from the standard's table; cross-checked word-for-word against
    * libjpeg-turbo's exported jpeg_aritab. */
  private val ArithTab: Array[Int] = Array(
    0x5a1d0181, 0x2586020e, 0x11140310, 0x080b0412, 0x03d80514, 0x01da0617,
    0x00e50719, 0x006f081c, 0x0036091e, 0x001a0a21, 0x000d0b23, 0x00060c09,
    0x00030d0a, 0x00010d0c, 0x5a7f0f8f, 0x3f251024, 0x2cf21126, 0x207c1227,
    0x17b91328, 0x1182142a, 0x0cef152b, 0x09a1162d, 0x072f172e, 0x055c1830,
    0x04061931, 0x03031a33, 0x02401b34, 0x01b11c36, 0x01441d38, 0x00f51e39,
    0x00b71f3b, 0x008a203c, 0x0068213e, 0x004e223f, 0x003b2320, 0x002c0921,
    0x5ae125a5, 0x484c2640, 0x3a0d2741, 0x2ef12843, 0x261f2944, 0x1f332a45,
    0x19a82b46, 0x15182c48, 0x11772d49, 0x0e742e4a, 0x0bfb2f4b, 0x09f8304d,
    0x0861314e, 0x0706324f, 0x05cd3330, 0x04de3432, 0x040f3532, 0x03633633,
    0x02d43734, 0x025c3835, 0x01f83936, 0x01a43a37, 0x01603b38, 0x01253c39,
    0x00f63d3a, 0x00cb3e3b, 0x00ab3f3d, 0x008f203d, 0x5b1241c1, 0x4d044250,
    0x412c4351, 0x37d84452, 0x2fe84553, 0x293c4654, 0x23794756, 0x1edf4857,
    0x1aa94957, 0x174e4a48, 0x14244b48, 0x119c4c4a, 0x0f6b4d4a, 0x0d514e4b,
    0x0bb64f4d, 0x0a40304d, 0x583251d0, 0x4d1c5258, 0x438e5359, 0x3bdd545a,
    0x34ee555b, 0x2eae565c, 0x299a575d, 0x25164756, 0x557059d8, 0x4ca95a5f,
    0x44d95b60, 0x3e225c61, 0x38245d63, 0x32b45e63, 0x2e17565d, 0x56a860df,
    0x4f466165, 0x47e56266, 0x41cf6367, 0x3c3d6468, 0x375e5d63, 0x52316669,
    0x4c0f676a, 0x4639686b, 0x415e6367, 0x56276ae9, 0x50e76b6c, 0x4b85676d,
    0x55976d6e, 0x504f6b6f, 0x5a106fee, 0x55226d70, 0x59eb6ff0, 0x5a1d7171)

  /** QM arithmetic decoder over one entropy-coded segment, in the
    * software conventions of T.81 F.2.4.2/D.2 (the register discipline
    * libjpeg uses): lazy renormalization at the top of each decision,
    * C accumulating raw bytes at the low end with CT tracking the
    * bit-alignment of A against C (the textbook's `Chigh < A - Qe`
    * compare becomes `C < (A - Qe) << CT`), MPS sub-interval at the
    * bottom, conditional exchange on both paths when A < Qe. Entropy
    * bytes are 0xFF00-unstuffed (a run of fill 0xFFs before the
    * stuffed zero collapses to one literal 0xFF); hitting any real
    * marker switches the feed to zero bytes, per F.2.2.2 — the encoder
    * may discard trailing zero bytes, so the decoder regenerates them.
    * Each decision reads one statistics bin: low 7 bits the Table D.3
    * state index, bit 7 the current MPS sense. */
  private final class QmDecoder(d: Array[Byte], start: Int) {
    var bp: Int = start
    private var hitMarker = false
    private var c: Long = 0L
    private var a: Long = 0L
    private var ct: Int = 0
    // INITDEC: two entropy bytes fill C; A spans the 17-bit [0, 0x10000)
    locally {
      c = (nextByte().toLong << 8) | nextByte().toLong
      a = 0x10000L
    }

    private def nextByte(): Int = {
      if (hitMarker) return 0
      if (bp >= d.length) { hitMarker = true; return 0 }
      val b = d(bp) & 0xff
      if (b != 0xff) { bp += 1; return b }
      var q = bp
      while (q < d.length && (d(q) & 0xff) == 0xff) q += 1
      if (q < d.length && d(q) == 0x00) { bp = q + 1; 0xff }
      else { hitMarker = true; 0 }
    }

    /** Decode one binary decision against statistics bin `st(i)`. */
    def decode(st: Array[Byte], i: Int): Int = {
      var aa = a; var cc = c; var k = ct
      while (aa < 0x8000L) { // deferred renormalization (F.2.2.1)
        if (k == 0) { cc = (cc << 8) | nextByte().toLong; k = 8 }
        aa <<= 1
        k -= 1
      }
      val sv = st(i) & 0xff
      val e = ArithTab(sv & 0x7f)
      val qe = (e >>> 16).toLong
      var mps = sv >> 7
      var dd = 0
      aa -= qe
      val temp = aa << k
      if (cc < temp) { // MPS sub-interval
        if (aa >= 0x8000L) { a = aa; c = cc; ct = k; return mps }
        if (aa < qe) { // conditional exchange: decode LPS
          dd = 1 - mps
          if ((e & 0x80) != 0) mps ^= 1
          st(i) = ((mps << 7) | (e & 0x7f)).toByte
        } else {
          dd = mps
          st(i) = ((mps << 7) | ((e >> 8) & 0x7f)).toByte
        }
      } else { // LPS sub-interval
        cc -= temp
        if (qe <= aa) {
          dd = 1 - mps
          if ((e & 0x80) != 0) mps ^= 1
          st(i) = ((mps << 7) | (e & 0x7f)).toByte
        } else { // conditional exchange: decode MPS
          dd = mps
          st(i) = ((mps << 7) | ((e >> 8) & 0x7f)).toByte
        }
        aa = qe
      }
      a = aa; c = cc; ct = k
      dd
    }
  }

  /** Offset of the next real marker (0xFF followed by a non-zero,
    * non-fill byte) at or after `from`, skipping stuffed 0xFF00 pairs
    * and 0xFF fill runs; returns the offset of the 0xFF that
    * immediately precedes the marker type byte. */
  private def nextMarkerFrom(d: Array[Byte], from: Int): Int = {
    var q = from
    while (q + 1 < d.length &&
        !((d(q) & 0xff) == 0xff && (d(q + 1) & 0xff) != 0)) q += 1
    if (q + 1 >= d.length) refuse()
    while ((d(q + 1) & 0xff) == 0xff) { q += 1; if (q + 1 >= d.length) refuse() }
    q
  }

  /** Decode one DC difference (T.81 F.2.4.1 / Figures F.19-F.24):
    * zero/nonzero at the conditioning-selected bin, sign, magnitude
    * category via the X1.. walk at bin 20, magnitude bits at the
    * category's single M bin (+14), then reclassify the conditioning
    * context from the decoded category against the DAC L/U bounds.
    * Mutates `preds(ci)` (cumulative DC) and `dcCtx(ci)`. */
  private def arithDcDiff(qm: QmDecoder, st: Array[Byte], ci: Int,
      preds: Array[Int], dcCtx: Array[Int], dcL: Int, dcU: Int): Unit = {
    val base = dcCtx(ci)
    if (qm.decode(st, base) == 0) { dcCtx(ci) = 0; return }
    val sign = qm.decode(st, base + 1)
    var m = 0
    var ptr = base + 2 + sign
    if (qm.decode(st, ptr) != 0) {
      m = 1
      ptr = 20 // Table F.4: X1
      while (qm.decode(st, ptr) != 0) {
        m <<= 1
        if (m == 0x8000) refuse()
        ptr += 1
      }
    }
    var v = m
    dcCtx(ci) =
      if (m < ((1 << dcL) >> 1)) 0
      else if (m > ((1 << dcU) >> 1)) 12 + sign * 4
      else 4 + sign * 4
    ptr += 14 // Table F.4: M bins
    var mm = m
    while (mm > 1) {
      mm >>= 1
      if (qm.decode(st, ptr) != 0) v |= mm
    }
    v += 1
    preds(ci) += (if (sign != 0) -v else v)
  }

  /** Sequential (SOF9) arithmetic scan: the same MCU geometry as the
    * Huffman [[decodeScan]], with the QM-coded DC/AC statistical models
    * of T.81 F.2.4 (per-k EOB decision, shared X2+/M bins split at the
    * DAC Kx threshold, fixed-probability sign). RSTn re-inits the coder
    * and zeroes every statistics bin (F.2.4.3.1). */
  private def decodeScanArith(
      d: Array[Byte], scanStart: Int, width: Int, height: Int,
      comps0: Array[Comp], scanDc: Array[Int], scanAc: Array[Int],
      quant: Array[Array[Int]],
      dcLa: Array[Int], dcUa: Array[Int], acKa: Array[Int],
      restart: Int): JpegImage = {
    val nc = comps0.length
    val comps = if (nc == 1) Array(comps0(0).copy(h = 1, v = 1)) else comps0
    var hmax = 1; var vmax = 1
    comps.foreach { c => hmax = math.max(hmax, c.h); vmax = math.max(vmax, c.v) }
    val mcux = (width + 8 * hmax - 1) / (8 * hmax)
    val mcuy = (height + 8 * vmax - 1) / (8 * vmax)
    var paddedSamples = 0L
    comps.foreach { c =>
      paddedSamples += mcux.toLong * 8 * c.h * mcuy * 8 * c.v
    }
    if (paddedSamples > MaxPixels * 8) refuse()
    val planeW = Array.tabulate(nc)(i => mcux * 8 * comps(i).h)
    val planes = Array.tabulate(nc)(i => new Array[Int](planeW(i) * mcuy * 8 * comps(i).v))
    comps.foreach { c => if (quant(c.tq) == null) refuse() }

    val dcStats = Array.fill(16)(new Array[Byte](64))
    val acStats = Array.fill(16)(new Array[Byte](256))
    val fixedBin = Array[Byte](113.toByte)
    var qm = new QmDecoder(d, scanStart)
    val preds = new Array[Int](nc)
    val dcCtx = new Array[Int](nc)
    val zz = new Array[Int](64)
    val blk = new Array[Int](64)
    var mcu = 0
    var rst = 0
    var my = 0
    while (my < mcuy) {
      var mx = 0
      while (mx < mcux) {
        if (restart > 0 && mcu > 0 && mcu % restart == 0) {
          val q = nextMarkerFrom(d, qm.bp)
          if ((d(q + 1) & 0xff) != 0xd0 + (rst & 7)) refuse()
          qm = new QmDecoder(d, q + 2)
          java.util.Arrays.fill(preds, 0)
          java.util.Arrays.fill(dcCtx, 0)
          var t = 0
          while (t < 16) {
            java.util.Arrays.fill(dcStats(t), 0.toByte)
            java.util.Arrays.fill(acStats(t), 0.toByte)
            t += 1
          }
          rst += 1
        }
        var ci = 0
        while (ci < nc) {
          val c = comps(ci)
          val q = quant(c.tq)
          val dst = dcStats(scanDc(ci))
          val ast = acStats(scanAc(ci))
          val kx = acKa(scanAc(ci))
          var by = 0
          while (by < c.v) {
            var bx = 0
            while (bx < c.h) {
              java.util.Arrays.fill(zz, 0)
              arithDcDiff(qm, dst, ci, preds, dcCtx,
                dcLa(scanDc(ci)), dcUa(scanDc(ci)))
              zz(0) = preds(ci) * q(0)
              // T.81 Figure F.20: Decode_AC_coefficients
              var k = 1
              var done = false
              while (k <= 63 && !done) {
                var base = 3 * (k - 1)
                if (qm.decode(ast, base) != 0) done = true // EOB
                else {
                  while (qm.decode(ast, base + 1) == 0) {
                    k += 1
                    if (k > 63) refuse()
                    base = 3 * (k - 1)
                  }
                  val sign = qm.decode(fixedBin, 0)
                  var ptr = base + 2
                  var m = qm.decode(ast, ptr)
                  if (m != 0 && qm.decode(ast, ptr) != 0) {
                    m = 2
                    ptr = if (k <= kx) 189 else 217 // Table F.5: X2..
                    while (qm.decode(ast, ptr) != 0) {
                      m <<= 1
                      if (m == 0x8000) refuse()
                      ptr += 1
                    }
                  }
                  var v = m
                  ptr += 14
                  var mm = m
                  while (mm > 1) {
                    mm >>= 1
                    if (qm.decode(ast, ptr) != 0) v |= mm
                  }
                  v += 1
                  if (sign != 0) v = -v
                  zz(Zigzag(k)) = v * q(Zigzag(k))
                  k += 1
                }
              }
              idctBlock(zz, blk)
              val y0 = (my * c.v + by) * 8
              val x0 = (mx * c.h + bx) * 8
              val pw = planeW(ci)
              val plane = planes(ci)
              var yy = 0
              while (yy < 8) {
                var xx = 0
                while (xx < 8) {
                  plane((y0 + yy) * pw + x0 + xx) = blk(yy * 8 + xx)
                  xx += 1
                }
                yy += 1
              }
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    // integrity: a conforming scan is always terminated by a real
    // marker (EOI here). Arithmetic truncation is otherwise silent —
    // the decoder regenerates the droppable trailing zero bytes — so
    // the missing marker is the one reliable tear detector.
    nextMarkerFrom(d, qm.bp)
    assembleImage(width, height, nc, comps, hmax, vmax, planeW, planes)
  }

  // ------------------------------------------------------ lossless (SOF3)
  //
  // ITU-T T.81 process 14 (lossless sequential Huffman), the DICOM /
  // scientific-imagery shape the DCT entry above refuses. Decoded
  // against the independent Python encoder in
  // tools/jpeg_lossless_golden.py under the SHARED SPEC (Annex H):
  //   * predictors 1..7 on Ra/Rb/Rc with integer >>1 for the /2 cases;
  //   * the first sample of a scan (and of each restart interval)
  //     predicts 1 << (P - Pt - 1); the rest of that interval's first
  //     row predicts Ra; the first sample of later rows predicts Rb;
  //   * diff is DC-style Huffman (SSSS category + extend), except
  //     SSSS=16 carries no extra bits and means exactly 32768;
  //   * reconstruction Rx = (Px + diff) mod 2^16, emitted as Rx << Pt.
  // Profile bounds (refused outside): precision 2..16, h=v=1 per
  // component (subsampled lossless is vanishingly rare and its sample
  // geometry is underspecified), restart markers only at row
  // boundaries (the common whole-row DRI layout), a single point
  // transform per image, no differential/arithmetic frames.

  /** Decoded lossless frame: `samples` is row-major, channel-
    * interleaved, each value the reconstructed sample << Pt
    * (so at most `precision` bits). */
  final case class JpegLosslessImage(width: Int, height: Int, channels: Int,
      precision: Int, pointTransform: Int, samples: Array[Int])

  def decodeLossless(bytes: Array[Byte]): Option[JpegLosslessImage] =
    try Some(decodeLosslessOrRefuse(bytes))
    catch { case _: RuntimeException => None } // refusals and index faults

  private def decodeLosslessOrRefuse(d: Array[Byte]): JpegLosslessImage = {
    if (d.length < 4 || (d(0) & 0xff) != 0xff || (d(1) & 0xff) != 0xd8) refuse()
    var p = 2
    val huffDc = new Array[mutable.HashMap[Int, Int]](4)
    var width = 0; var height = 0; var precision = 0
    var restart = 0
    var nc = 0
    var compIds: Array[Int] = null
    var planes: Array[Array[Int]] = null
    var decoded: Array[Boolean] = null
    var pt = -1

    while (true) {
      if (p + 1 >= d.length || (d(p) & 0xff) != 0xff) refuse()
      val m = d(p + 1) & 0xff
      if (m == 0xd9) { // EOI
        if (planes == null || decoded == null || pt < 0) refuse()
        var c = 0
        while (c < nc) { if (!decoded(c)) refuse(); c += 1 }
        val out = new Array[Int](width * height * nc)
        var i = 0
        while (i < width * height) {
          var k = 0
          while (k < nc) { out(i * nc + k) = planes(k)(i) << pt; k += 1 }
          i += 1
        }
        return JpegLosslessImage(width, height, nc, precision, pt, out)
      }
      val ln = be16(d, p + 2)
      if (ln < 2 || p + 2 + ln > d.length) refuse()
      val bo = p + 4
      val bend = p + 2 + ln
      var next = p + 2 + ln
      m match {
        case 0xc4 => // DHT (DC-class tables carry the difference codes)
          var q = bo
          while (q < bend) {
            val tc = (d(q) & 0xff) >> 4
            val th = d(q) & 0x0f
            if (tc > 1 || th > 3 || q + 17 > bend) refuse()
            val bits = Array.tabulate(16)(i => d(q + 1 + i) & 0xff)
            val nv = bits.sum
            if (q + 17 + nv > bend || nv > 256) refuse()
            val vals = Array.tabulate(nv)(i => d(q + 17 + i) & 0xff)
            if (tc == 0) huffDc(th) = huffTable(bits, vals)
            q += 17 + nv
          }
        case 0xc3 => // SOF3: lossless sequential Huffman
          if (compIds != null) refuse() // second frame header
          precision = d(bo) & 0xff
          if (precision < 2 || precision > 16) refuse()
          height = be16(d, bo + 1); width = be16(d, bo + 3)
          nc = d(bo + 5) & 0xff
          if (width == 0 || height == 0 || nc < 1 || nc > 4) refuse()
          if (width.toLong * height * nc > MaxPixels) refuse()
          if (bo + 6 + 3 * nc > bend) refuse()
          compIds = Array.tabulate(nc) { i =>
            val hv = d(bo + 7 + 3 * i) & 0xff
            if (hv != 0x11) refuse() // subsampled lossless: out of profile
            d(bo + 6 + 3 * i) & 0xff
          }
          planes = Array.fill(nc)(new Array[Int](width * height))
          decoded = new Array[Boolean](nc)
        case 0xc0 | 0xc1 | 0xc2 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
             0xcd | 0xce | 0xcf =>
          refuse() // DCT / differential / arithmetic frame in the lossless entry
        case 0xdd => // DRI
          if (ln != 4) refuse()
          restart = be16(d, bo)
        case 0xdb => () // stray quantization table: legal to carry, unused
        case 0xda => // SOS: one lossless scan (interleaved or per-component)
          if (compIds == null) refuse()
          val ns = d(bo) & 0xff
          if (ns < 1 || ns > nc || bo + 1 + 2 * ns + 3 > bend) refuse()
          val cis = new Array[Int](ns)
          val tids = new Array[Int](ns)
          var i = 0
          while (i < ns) {
            val cs = d(bo + 1 + 2 * i) & 0xff
            val ci = compIds.indexWhere(_ == cs)
            if (ci < 0 || decoded(ci)) refuse()
            cis(i) = ci
            val tt = d(bo + 2 + 2 * i) & 0xff
            tids(i) = tt >> 4
            if (tids(i) > 3 || huffDc(tids(i)) == null) refuse()
            i += 1
          }
          val psel = d(bo + 1 + 2 * ns) & 0xff
          val se = d(bo + 2 + 2 * ns) & 0xff
          val ahal = d(bo + 3 + 2 * ns) & 0xff
          if (psel < 1 || psel > 7 || se != 0 || (ahal >> 4) != 0) refuse()
          val ptv = ahal & 0x0f
          if (ptv >= precision) refuse()
          if (pt < 0) pt = ptv else if (pt != ptv) refuse()
          val br = new BitReader(d, bend)
          losslessScan(br, planes, cis, tids, huffDc, width, height,
            precision, psel, ptv, restart)
          i = 0
          while (i < ns) { decoded(cis(i)) = true; i += 1 }
          next = br.p
        case x if (x >= 0xe0 && x <= 0xef) || x == 0xfe => () // APPn / COM
        case _ => refuse()
      }
      p = next
    }
    throw new IllegalStateException("unreachable")
  }

  // -------------------------------------------- 12-bit DCT (SOF1, P=12)
  //
  // Extended sequential Huffman at 12-bit precision (T.81 process 2)
  // — the 12-bit DICOM/scientific DCT shape the 8-bit entry refuses.
  // A parallel path so the hot 8-bit decode stays untouched; shared
  // primitives (BitReader, Huffman, Zigzag, the 14-bit IDCT basis)
  // are reused, with the 12-bit deltas pinned against the independent
  // Python encoder+decoder in tools/jpeg12_golden.py:
  //   * level shift 2048, clamp 0..4095 after the same
  //     (acc + 2^27) >> 28 descale;
  //   * DC SSSS 0..15, AC SSSS 1..14 (the wider 12-bit categories);
  //   * DQT element precision Pq=1 (16-bit) parsed alongside Pq=0;
  //   * chroma centered at 2048 in the same fixed-point YCbCr->RGB.

  /** Decoded 12-bit frame: `samples` is row-major, channel-
    * interleaved ints in 0..4095. */
  final case class Jpeg12Image(width: Int, height: Int, channels: Int,
      samples: Array[Int])

  def decode12(bytes: Array[Byte]): Option[Jpeg12Image] =
    try Some(decode12OrRefuse(bytes))
    catch { case _: RuntimeException => None } // refusals and index faults

  private def decode12OrRefuse(d: Array[Byte]): Jpeg12Image = {
    if (d.length < 4 || (d(0) & 0xff) != 0xff || (d(1) & 0xff) != 0xd8) refuse()
    var p = 2
    val quant = new Array[Array[Int]](4)
    val huffDc = new Array[mutable.HashMap[Int, Int]](4)
    val huffAc = new Array[mutable.HashMap[Int, Int]](4)
    var width = 0; var height = 0
    var comps: Array[Comp] = null
    var restart = 0

    while (true) {
      if (p + 1 >= d.length || (d(p) & 0xff) != 0xff) refuse()
      val m = d(p + 1) & 0xff
      if (m == 0xd9) refuse() // EOI before any scan
      val ln = be16(d, p + 2)
      if (ln < 2 || p + 2 + ln > d.length) refuse()
      val bo = p + 4
      val bend = p + 2 + ln
      m match {
        case 0xdb => // DQT: Pq=0 (8-bit) or Pq=1 (16-bit) elements
          var q = bo
          while (q < bend) {
            val pq = (d(q) & 0xff) >> 4
            val tid = d(q) & 0x0f
            if (pq > 1 || tid > 3) refuse()
            val ew = if (pq == 1) 2 else 1
            if (q + 1 + 64 * ew > bend) refuse()
            val tab = new Array[Int](64)
            var i = 0
            while (i < 64) {
              tab(Zigzag(i)) =
                if (pq == 1) be16(d, q + 1 + 2 * i) else d(q + 1 + i) & 0xff
              i += 1
            }
            quant(tid) = tab
            q += 1 + 64 * ew
          }
        case 0xc4 => // DHT
          var q = bo
          while (q < bend) {
            val tc = (d(q) & 0xff) >> 4
            val th = d(q) & 0x0f
            if (tc > 1 || th > 3 || q + 17 > bend) refuse()
            val bits = Array.tabulate(16)(i => d(q + 1 + i) & 0xff)
            val nv = bits.sum
            if (q + 17 + nv > bend || nv > 256) refuse()
            val vals = Array.tabulate(nv)(i => d(q + 17 + i) & 0xff)
            val t = huffTable(bits, vals)
            if (tc == 0) huffDc(th) = t else huffAc(th) = t
            q += 17 + nv
          }
        case 0xc1 => // SOF1 extended sequential, 12-bit only here
          if ((d(bo) & 0xff) != 12) refuse()
          if (comps != null) refuse()
          height = be16(d, bo + 1); width = be16(d, bo + 3)
          val nc = d(bo + 5) & 0xff
          if (width == 0 || height == 0 || (nc != 1 && nc != 3)) refuse()
          if (width.toLong * height > MaxPixels) refuse()
          if (bo + 6 + 3 * nc > bend) refuse()
          comps = Array.tabulate(nc) { i =>
            val hv = d(bo + 7 + 3 * i) & 0xff
            val c = Comp(d(bo + 6 + 3 * i) & 0xff, hv >> 4, hv & 0x0f,
              d(bo + 8 + 3 * i) & 0xff)
            if (c.h < 1 || c.h > 2 || c.v < 1 || c.v > 2 || c.tq > 3) refuse()
            c
          }
        case 0xc0 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
             0xcd | 0xce | 0xcf =>
          refuse() // 8-bit/progressive/lossless/arithmetic in the 12-bit entry
        case 0xdd =>
          if (ln != 4) refuse()
          restart = be16(d, bo)
        case 0xda => // SOS — single interleaved extended-sequential scan
          if (comps == null) refuse()
          val ns = d(bo) & 0xff
          if (ns != comps.length || bo + 1 + 2 * ns + 3 > bend) refuse()
          val scanDc = new Array[Int](comps.length)
          val scanAc = new Array[Int](comps.length)
          var i = 0
          while (i < ns) {
            val cs = d(bo + 1 + 2 * i) & 0xff
            val ci = comps.indexWhere(_.id == cs)
            if (ci < 0) refuse()
            val tt = d(bo + 2 + 2 * i) & 0xff
            scanDc(ci) = tt >> 4; scanAc(ci) = tt & 0x0f
            i += 1
          }
          if ((d(bo + 1 + 2 * ns) & 0xff) != 0 ||
              (d(bo + 2 + 2 * ns) & 0xff) != 63 ||
              (d(bo + 3 + 2 * ns) & 0xff) != 0) refuse()
          return decodeScan12(d, bend, width, height, comps, scanDc,
            scanAc, quant, huffDc, huffAc, restart)
        case _ => () // APPn, COM, others: skip
      }
      p = p + 2 + ln
    }
    throw new IllegalStateException("unreachable")
  }

  /** The 12-bit IDCT: same basis and descale as [[idctBlock]], level
    * shift 2048, clamp 0..4095. */
  private def idctBlock12(f: Array[Int], out: Array[Int]): Unit = {
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0L
        var u = 0
        while (u < 8) {
          val tu = IdctT(u)(x).toLong
          var v = 0
          while (v < 8) {
            acc += f(v * 8 + u) * tu * IdctT(v)(y)
            v += 1
          }
          u += 1
        }
        val s = 2048 + ((acc + (1L << 27)) >> 28).toInt
        out(y * 8 + x) = if (s < 0) 0 else if (s > 4095) 4095 else s
        x += 1
      }
      y += 1
    }
  }

  private def clamp12(v: Int): Int = if (v < 0) 0 else if (v > 4095) 4095 else v

  private def decodeScan12(
      d: Array[Byte], scanStart: Int, width: Int, height: Int,
      comps0: Array[Comp], scanDc: Array[Int], scanAc: Array[Int],
      quant: Array[Array[Int]],
      huffDc: Array[mutable.HashMap[Int, Int]],
      huffAc: Array[mutable.HashMap[Int, Int]],
      restart: Int): Jpeg12Image = {
    val nc = comps0.length
    // single-component scans are non-interleaved: force 1x1 geometry
    // (the 8-bit path's 10918-1 rule, identical here)
    val comps = if (nc == 1) Array(comps0(0).copy(h = 1, v = 1)) else comps0
    var hmax = 1; var vmax = 1
    comps.foreach { c => hmax = math.max(hmax, c.h); vmax = math.max(vmax, c.v) }
    val mcux = (width + 8 * hmax - 1) / (8 * hmax)
    val mcuy = (height + 8 * vmax - 1) / (8 * vmax)
    var paddedSamples = 0L
    comps.foreach { c =>
      paddedSamples += mcux.toLong * 8 * c.h * mcuy * 8 * c.v
    }
    if (paddedSamples > MaxPixels * 8) refuse()
    val planeW = Array.tabulate(nc)(i => mcux * 8 * comps(i).h)
    val planes = Array.tabulate(nc)(i =>
      new Array[Int](planeW(i) * mcuy * 8 * comps(i).v))
    comps.foreach { c => if (quant(c.tq) == null) refuse() }
    var i = 0
    while (i < nc) {
      if (huffDc(scanDc(i)) == null || huffAc(scanAc(i)) == null) refuse()
      i += 1
    }

    val br = new BitReader(d, scanStart)
    val preds = new Array[Int](nc)
    val zz = new Array[Int](64)
    val blk = new Array[Int](64)
    var mcu = 0
    var rst = 0
    var my = 0
    while (my < mcuy) {
      var mx = 0
      while (mx < mcux) {
        if (restart > 0 && mcu > 0 && mcu % restart == 0) {
          br.byteAlign()
          if (br.peekRst() != 0xd0 + (rst & 7)) refuse()
          br.skipMarker()
          rst += 1
          java.util.Arrays.fill(preds, 0)
        }
        var ci = 0
        while (ci < nc) {
          val c = comps(ci)
          val q = quant(c.tq)
          val dcT = huffDc(scanDc(ci))
          val acT = huffAc(scanAc(ci))
          var by = 0
          while (by < c.v) {
            var bx = 0
            while (bx < c.h) {
              java.util.Arrays.fill(zz, 0)
              val s = readHuff(br, dcT)
              if (s > 15) refuse() // 12-bit DC category ceiling
              val diff = if (s != 0) extend(br.bits(s), s) else 0
              preds(ci) += diff
              zz(0) = preds(ci) * q(0)
              var k = 1
              var done = false
              while (k < 64 && !done) {
                val rs = readHuff(br, acT)
                val r = rs >> 4
                val s2 = rs & 0x0f
                if (s2 == 0) {
                  if (r == 15) k += 16 // ZRL
                  else done = true // EOB
                } else {
                  if (s2 > 14) refuse() // 12-bit AC category ceiling
                  k += r
                  if (k > 63) refuse()
                  zz(Zigzag(k)) = extend(br.bits(s2), s2) * q(Zigzag(k))
                  k += 1
                }
              }
              idctBlock12(zz, blk)
              val y0 = (my * c.v + by) * 8
              val x0 = (mx * c.h + bx) * 8
              val pw = planeW(ci)
              val plane = planes(ci)
              var yy = 0
              while (yy < 8) {
                var xx = 0
                while (xx < 8) {
                  plane((y0 + yy) * pw + x0 + xx) = blk(yy * 8 + xx)
                  xx += 1
                }
                yy += 1
              }
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }

    if (nc == 1) {
      val out = new Array[Int](width * height)
      val pw = planeW(0)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          out(y * width + x) = planes(0)(y * pw + x)
          x += 1
        }
        y += 1
      }
      Jpeg12Image(width, height, 1, out)
    } else {
      val out = new Array[Int](width * height * 3)
      val hr0 = hmax / comps(0).h; val vr0 = vmax / comps(0).v
      val hr1 = hmax / comps(1).h; val vr1 = vmax / comps(1).v
      val hr2 = hmax / comps(2).h; val vr2 = vmax / comps(2).v
      val pw0 = planeW(0); val pw1 = planeW(1); val pw2 = planeW(2)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val yv = planes(0)((y / vr0) * pw0 + (x / hr0))
          val cb = planes(1)((y / vr1) * pw1 + (x / hr1)) - 2048
          val cr = planes(2)((y / vr2) * pw2 + (x / hr2)) - 2048
          val o = (y * width + x) * 3
          out(o) = clamp12(yv + ((91881 * cr + 32768) >> 16))
          out(o + 1) = clamp12(yv - ((22554 * cb + 46802 * cr + 32768) >> 16))
          out(o + 2) = clamp12(yv + ((116130 * cb + 32768) >> 16))
          x += 1
        }
        y += 1
      }
      Jpeg12Image(width, height, 3, out)
    }
  }

  /** One lossless scan: raster MCU walk (an MCU is one sample of each
    * scan component at h=v=1), per-component prediction, row-aligned
    * restart intervals. */
  private def losslessScan(br: BitReader, planes: Array[Array[Int]],
      cis: Array[Int], tids: Array[Int],
      huffDc: Array[mutable.HashMap[Int, Int]], w: Int, h: Int,
      precision: Int, psel: Int, ptv: Int, restart: Int): Unit = {
    val default = 1 << (precision - ptv - 1)
    var resetRow = 0
    var firstOfInterval = true
    var mcu = 0
    var rstIdx = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (restart > 0 && mcu > 0 && mcu % restart == 0) {
          if (x != 0) refuse() // mid-row restart: out of profile
          br.byteAlign()
          if (br.peekRst() != 0xd0 + (rstIdx & 7)) refuse()
          br.skipMarker()
          rstIdx += 1
          resetRow = y
          firstOfInterval = true
        }
        var k = 0
        while (k < cis.length) {
          val plane = planes(cis(k))
          val s = readHuff(br, huffDc(tids(k)))
          if (s > 16) refuse()
          val diff = if (s == 16) 32768 else extend(br.bits(s), s)
          val px =
            if (firstOfInterval) default
            else if (y == resetRow) plane(y * w + x - 1) // interval's first row: Ra
            else if (x == 0) plane((y - 1) * w) // later rows start on Rb
            else {
              val ra = plane(y * w + x - 1)
              val rb = plane((y - 1) * w + x)
              val rc = plane((y - 1) * w + x - 1)
              psel match {
                case 1 => ra
                case 2 => rb
                case 3 => rc
                case 4 => ra + rb - rc
                case 5 => ra + ((rb - rc) >> 1)
                case 6 => rb + ((ra - rc) >> 1)
                case _ => (ra + rb) >> 1
              }
            }
          plane(y * w + x) = (px + diff) & 0xffff
          k += 1
        }
        firstOfInterval = false
        mcu += 1
        x += 1
      }
      y += 1
    }
  }
}
