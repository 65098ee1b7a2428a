package graft.sources

import Bytes._

/** Audio metadata codec — FLAC and MP3 are the audio half of a
  * multimodal crawl, and curation runs on METADATA (sample rate,
  * channels, duration, title/artist/language tags) long before any
  * sample decodes. Sibling of [[WavCodec]] in the audio family; the
  * sample-decode stays at the stub boundary (codec libraries), the
  * container walk is the engine's job — the same split as
  * [[Mp4Codec]].
  *
  * FLAC: `fLaC` magic, then metadata blocks (1-byte last-flag+type,
  * 24-bit big-endian length): STREAMINFO's packed bitfields (20-bit
  * sample rate, 3-bit channels-1, 5-bit bps-1, 36-bit total samples)
  * and the VORBIS_COMMENT block — little-endian lengths inside a
  * big-endian container, `KEY=value` fields split at the FIRST `=`,
  * keys canonicalized upper-case. Other block types skip by length.
  *
  * MP3: an optional ID3v2.3/2.4 tag (syncsafe tag size; frame sizes
  * plain u32 in v2.3, syncsafe in v2.4; text frames in Latin-1,
  * UTF-16 with BOM, UTF-16BE, or UTF-8), then the first MPEG-1
  * Layer III frame header (bitrate/sample-rate tables, frame length
  * 144·bitrate/rate + padding).
  *
  * Refusal contract ([[GzipCodec]] discipline): whole-file None on a
  * bad magic, a truncated block/frame, a STREAMINFO that is not 34
  * bytes, a zero sample rate, a malformed comment block, an ID3 size
  * past EOF, unsupported ID3 versions/flags, or a first MPEG header
  * that is not MPEG-1 Layer III with a valid bitrate/rate. Never
  * throws. */
object AudioMetaCodec {

  /** One metadata row: kind ∈ streaminfo/vendor/comment (FLAC) or
    * tag/stream (MP3); numeric rows carry num, text rows sval. */
  case class Meta(kind: String, key: String, sval: String, num: Long)

  val MaxComments: Int = 10000
  val MaxTextBytes: Int = 1 << 20

  def decodeFlac(bytes: Array[Byte]): Option[Vector[Meta]] =
    refusing(runFlac(bytes))

  def decodeMp3(bytes: Array[Byte]): Option[Vector[Meta]] =
    refusing(runMp3(bytes))

  private def runFlac(b: Array[Byte]): Vector[Meta] = {
    if (b.length < 8 || b(0) != 'f' || b(1) != 'L' || b(2) != 'a' ||
        b(3) != 'C') refuse()
    val out = Vector.newBuilder[Meta]
    var p = 4
    var first = true
    var last = false
    while (!last) {
      val h = u8(b, p)
      last = (h & 0x80) != 0
      val btype = h & 0x7f
      if (btype == 127) refuse() // forbidden by spec
      val len = be24(b, p + 1)
      val at = p + 4
      if (at + len > b.length) refuse()
      if (first && btype != 0) refuse() // STREAMINFO must lead
      first = false
      btype match {
        case 0 =>
          if (len != 34) refuse()
          val packed = be64(b, at + 10)
          val rate = (packed >>> 44) & 0xfffff
          val ch = ((packed >>> 41) & 7) + 1
          val bps = ((packed >>> 36) & 0x1f) + 1
          val total = packed & ((1L << 36) - 1)
          if (rate == 0) refuse()
          out += Meta("streaminfo", "sample_rate", null, rate)
          out += Meta("streaminfo", "channels", null, ch)
          out += Meta("streaminfo", "bits", null, bps)
          out += Meta("streaminfo", "total_samples", null, total)
          if (total > 0)
            out += Meta("streaminfo", "duration_ms", null,
              total * 1000 / rate)
        case 4 =>
          var q = at
          val bend = at + len
          val vlen = le32(b, q); q += 4
          if (vlen > MaxTextBytes || q + vlen > bend) refuse()
          out += Meta("vendor", "vendor",
            new String(b, q, vlen.toInt,
              java.nio.charset.StandardCharsets.UTF_8), 0)
          q += vlen.toInt
          val n = le32(b, q); q += 4
          if (n > MaxComments) refuse()
          var i = 0L
          while (i < n) {
            val flen = le32(b, q); q += 4
            if (flen > MaxTextBytes || q + flen > bend) refuse()
            val kv = new String(b, q, flen.toInt,
              java.nio.charset.StandardCharsets.UTF_8)
            q += flen.toInt
            val eq = kv.indexOf('=')
            if (eq <= 0) refuse()
            out += Meta("comment",
              kv.substring(0, eq).toUpperCase(java.util.Locale.ROOT),
              kv.substring(eq + 1), 0)
            i += 1
          }
        case _ => () // seektable / padding / picture / …: skip by length
      }
      p = at + len
    }
    out.result()
  }

  /** Ogg/Opus metadata (RFC 3533 + RFC 7845) — podcast/speech corpora
    * ship this; channels/preskip/duration/tags need no Opus decoder.
    * Page walk: capture pattern, version 0, CRC32 (forward 0x04C11DB7,
    * computed with a zeroed CRC field), lacing-value packet
    * reassembly (255 = continues); single logical stream only
    * (multiplexed serials refuse). Packet 1 must be OpusHead
    * (channels, preskip, input rate), packet 2 OpusTags (the same
    * comment grammar as FLAC's Vorbis block; trailing bytes after the
    * comments — the RFC's binary-suffix space — are ignored).
    * Duration = (last granule − preskip) at the fixed 48 kHz granule
    * rate. Whole-file refusal on any structural fault. */
  /** One Ogg/Opus row: idx disambiguates repeated comment keys. */
  case class OpusMeta(kind: String, key: String, idx: Int, num: Long,
      sval: String)

  def decodeOgg(bytes: Array[Byte]): Option[Vector[OpusMeta]] =
    refusing(runOgg(bytes))

  private val OggCrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var k = 0
      while (k < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        k += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  private def runOgg(b: Array[Byte]): Vector[OpusMeta] = {
    val out = Vector.newBuilder[OpusMeta]
    var p = 0
    var serial = -1L
    var lastGranule = 0L
    var nPages = 0
    var sawEos = false
    val packets = Vector.newBuilder[Array[Byte]]
    var partial = new java.io.ByteArrayOutputStream()
    var packetCount = 0
    while (p < b.length) {
      if (sawEos) refuse() // trailing pages after EOS
      if (p + 27 > b.length) refuse()
      if (!(u8(b, p) == 'O' && u8(b, p + 1) == 'g' && u8(b, p + 2) == 'g' &&
            u8(b, p + 3) == 'S')) refuse()
      if (u8(b, p + 4) != 0) refuse() // stream structure version
      val htype = u8(b, p + 5)
      val granule = le64(b, p + 6)
      var i = 0
      val ser = le32(b, p + 14)
      if (serial < 0) serial = ser
      else if (ser != serial) refuse() // multiplexed: out of envelope
      val nsegs = u8(b, p + 26)
      val lacingAt = p + 27
      var bodyLen = 0
      i = 0
      while (i < nsegs) { bodyLen += u8(b, lacingAt + i); i += 1 }
      val bodyAt = lacingAt + nsegs
      if (bodyAt + bodyLen > b.length) refuse()
      // CRC over the page with a zeroed CRC field
      var crc = 0
      def feed(q: Int): Unit =
        crc = (crc << 8) ^ OggCrcTable(((crc >>> 24) ^ u8(b, q)) & 0xff)
      i = p
      while (i < p + 22) { feed(i); i += 1 }
      i = 0
      while (i < 4) {
        crc = (crc << 8) ^ OggCrcTable((crc >>> 24) & 0xff); i += 1
      }
      i = p + 26
      while (i < bodyAt + bodyLen) { feed(i); i += 1 }
      if (crc != (le32(b, p + 22)).toInt) refuse()
      if ((htype & 1) == 0 && partial.size > 0 && nPages > 0) refuse()
      // packet reassembly via lacing values
      var off = bodyAt
      i = 0
      while (i < nsegs) {
        val ln = u8(b, lacingAt + i)
        partial.write(b, off, ln)
        off += ln
        if (ln < 255) {
          packets += partial.toByteArray
          packetCount += 1
          partial = new java.io.ByteArrayOutputStream()
        }
        i += 1
      }
      if (granule != -1L) lastGranule = granule
      if ((htype & 4) != 0) sawEos = true
      nPages += 1
      p = bodyAt + bodyLen
    }
    if (nPages == 0 || !sawEos || partial.size > 0) refuse()
    val ps = packets.result()
    if (ps.length < 2) refuse()
    val head = ps(0)
    if (head.length < 19 || !new String(head, 0, 8,
        java.nio.charset.StandardCharsets.US_ASCII).equals("OpusHead"))
      refuse()
    if ((head(8) & 0xff) != 1) refuse() // OpusHead version
    val ch = head(9) & 0xff
    val preskip = le16(head, 10)
    val rate = le32(head, 12)
    out += OpusMeta("stream", "channels", 0, ch, null)
    out += OpusMeta("stream", "preskip", 0, preskip, null)
    out += OpusMeta("stream", "input_rate", 0, rate, null)
    out += OpusMeta("stream", "duration_ms", 0,
      math.max(0L, lastGranule - preskip) * 1000 / 48000, null)
    out += OpusMeta("stream", "pages", 0, nPages, null)
    val tags = ps(1)
    if (tags.length < 12 || !new String(tags, 0, 8,
        java.nio.charset.StandardCharsets.US_ASCII).equals("OpusTags"))
      refuse()
    var q = 8
    val vlen = le32(tags, q); q += 4
    if (vlen > MaxTextBytes || q + vlen > tags.length) refuse()
    out += OpusMeta("vendor", "vendor", 0, 0,
      new String(tags, q, vlen.toInt,
        java.nio.charset.StandardCharsets.UTF_8))
    q += vlen.toInt
    val n = le32(tags, q); q += 4
    if (n > MaxComments) refuse()
    var ci = 0L
    while (ci < n) {
      val flen = le32(tags, q); q += 4
      if (flen > MaxTextBytes || q + flen > tags.length) refuse()
      val kv = new String(tags, q, flen.toInt,
        java.nio.charset.StandardCharsets.UTF_8)
      q += flen.toInt
      val eq = kv.indexOf('=')
      if (eq <= 0) refuse()
      out += OpusMeta("comment",
        kv.substring(0, eq).toUpperCase(java.util.Locale.ROOT),
        ci.toInt, 0, kv.substring(eq + 1))
      ci += 1
    }
    // bytes past the comments: the RFC's binary-suffix space, ignored
    out.result()
  }

  /** MPEG-1 Layer III bitrate table (kbps), index 1..14. */
  private val Mp3Bitrate = Array(0, 32, 40, 48, 56, 64, 80, 96, 112,
    128, 160, 192, 224, 256, 320, 0)
  private val Mp3Rate = Array(44100, 48000, 32000, 0)

  private def runMp3(b: Array[Byte]): Vector[Meta] = {
    def syncsafe(p: Int): Int = {
      if ((u8(b, p) | u8(b, p + 1) | u8(b, p + 2) | u8(b, p + 3)) >= 0x80) refuse()
      (u8(b, p) << 21) | (u8(b, p + 1) << 14) | (u8(b, p + 2) << 7) | u8(b, p + 3)
    }
    val out = Vector.newBuilder[Meta]
    var p = 0
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val ver = u8(b, 3)
      if (ver != 3 && ver != 4) refuse()
      if (u8(b, 5) != 0) refuse() // unsync/extended/footer: out of envelope
      val size = syncsafe(6)
      if (10 + size > b.length) refuse()
      var q = 10
      val tend = 10 + size
      var inFrames = true
      while (inFrames && q + 10 <= tend) {
        if (u8(b, q) == 0) inFrames = false // padding
        else {
          val id = new String(b, q, 4,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          if (!id.forall(c => (c >= 'A' && c <= 'Z') ||
              (c >= '0' && c <= '9'))) refuse()
          val fsz =
            if (ver == 4) syncsafe(q + 4)
            else be32(b, q + 4).toInt
          if (fsz < 0 || q + 10 + fsz > tend) refuse()
          if (id.startsWith("T") && id != "TXXX" && fsz >= 1) {
            val enc = u8(b, q + 10)
            val raw = java.util.Arrays.copyOfRange(b, q + 11, q + 10 + fsz)
            val cs = enc match {
              case 0 => java.nio.charset.StandardCharsets.ISO_8859_1
              case 1 => java.nio.charset.StandardCharsets.UTF_16 // BOM
              case 2 => java.nio.charset.StandardCharsets.UTF_16BE
              case 3 => java.nio.charset.StandardCharsets.UTF_8
              case _ => refuse()
            }
            var s = new String(raw, cs)
            while (s.nonEmpty && s.charAt(s.length - 1) == '\u0000')
              s = s.substring(0, s.length - 1) // NUL-terminated texts
            out += Meta("tag", id, s, 0)
          }
          q += 10 + fsz
        }
      }
      p = tend
    }
    // first MPEG audio frame header
    if (p + 4 > b.length) refuse()
    if (u8(b, p) != 0xff || (u8(b, p + 1) & 0xe0) != 0xe0) refuse()
    val verBits = (u8(b, p + 1) >> 3) & 3
    val layerBits = (u8(b, p + 1) >> 1) & 3
    if (verBits != 3 || layerBits != 1) refuse() // MPEG-1 Layer III only
    val br = Mp3Bitrate((u8(b, p + 2) >> 4) & 0xf)
    val rate = Mp3Rate((u8(b, p + 2) >> 2) & 3)
    if (br == 0 || rate == 0) refuse()
    val pad = (u8(b, p + 2) >> 1) & 1
    val flen = 144 * br * 1000 / rate + pad
    if (p + flen > b.length) refuse() // first frame must be whole
    out += Meta("stream", "mpeg_version", null, 1)
    out += Meta("stream", "layer", null, 3)
    out += Meta("stream", "bitrate_kbps", null, br)
    out += Meta("stream", "sample_rate", null, rate)
    out += Meta("stream", "frame_bytes", null, flen)
    out.result()
  }
}
