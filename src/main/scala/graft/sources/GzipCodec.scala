package graft.sources

import Bytes._

/** Pure-Scala RFC 1952 gzip member codec — the compression envelope
  * web-scale text corpora actually ship in (`.jsonl.gz` shards are the
  * Common-Crawl/web-corpus analogue of the reference's webdataset tars,
  * dataops/dataset.py:31; the reference's own GCS objects are the
  * uncompressed form of the same shard idea, monthly.py:738-749).
  * Public format: 10-byte header (magic 1f 8b, CM=8 deflate, FLG,
  * little-endian MTIME, XFL, OS), optional FEXTRA/FNAME/FCOMMENT/FHCRC
  * fields, a raw-deflate body, and an 8-byte trailer (CRC-32 of the
  * UNCOMPRESSED data + ISIZE mod 2³²).
  *
  * Same envelope discipline as [[NpyCodec]]/[[TarCodec]]/[[WavCodec]]:
  * the writer emits deterministic, spec-conformant members (MTIME=0,
  * XFL=0, OS=255) any gzip reader accepts; the reader walks every
  * optional field, inflates, verifies BOTH trailer checks, and returns
  * None for anything it cannot faithfully parse — truncated header or
  * body, reserved FLG bits, CRC or length mismatch — never throwing,
  * so one corrupt shard skips instead of killing a distributed scan.
  * The deflate transform itself is the JDK's raw zlib (the
  * [[graft.operators.MultimodalOps]] TIFF-deflate precedent); the
  * container walk — which is what corrupt data attacks — is all here.
  */
object GzipCodec {

  /** One decoded member: the FNAME (empty if absent) + inflated data. */
  case class GzipFile(name: String, data: Array[Byte])

  /** Encode one member. FLG carries FNAME iff `name` is non-empty;
    * MTIME pinned to 0 so identical payloads produce identical bytes
    * (the TarCodec deterministic-shard rule). */
  def encode(name: String, data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    out.write(0x1f); out.write(0x8b); out.write(8)
    out.write(if (name.nonEmpty) 0x08 else 0x00) // FLG: FNAME only
    out.write(0); out.write(0); out.write(0); out.write(0) // MTIME = 0
    out.write(0)    // XFL
    out.write(0xff) // OS = unknown
    if (name.nonEmpty) { out.write(name.getBytes("ISO-8859-1")); out.write(0) }
    Compression.deflate(data, out, raw = true)
    val crc = new java.util.zip.CRC32(); crc.update(data)
    out.write(le(crc.getValue, 4))
    out.write(le(data.length, 4)) // ISIZE: the length mod 2^32
    out.toByteArray
  }

  /** Decode a gzip FILE — one or more back-to-back members per
    * RFC 1952 §2.2 ("a gzip file consists of a series of members");
    * pigz/bgzip and `cat a.gz b.gz` all produce multi-member files,
    * and readers must concatenate the inflated payloads. Returns the
    * first member's FNAME plus the concatenation; None on any
    * structural violation in ANY member, on trailing non-member
    * garbage, or past [[Compression.MaxInflatedBytes]] — never throws. */
  def decode(bytes: Array[Byte]): Option[GzipFile] =
    refusing(run(bytes)).flatten

  private def run(bytes: Array[Byte]): Option[GzipFile] = {
    if (bytes.length < 18) return None
    // one inflater for every member; it reports where each trailer starts
    val inf = Compression.inflater(raw = true)
    var name: String = null
    var members = List.empty[Array[Byte]]
    var total = 0
    var at = 0
    try {
      while (at < bytes.length) {
        val (n, data, next) =
          decodeMember(bytes, at, inf, Compression.MaxInflatedBytes - total)
            .getOrElse(return None)
        if (name == null) name = n
        members ::= data
        total += data.length
        at = next
      }
    } finally inf.end()
    Some(GzipFile(if (name == null) "" else name,
      if (members.size == 1) members.head else Array.concat(members.reverse: _*)))
  }

  /** Decode the single member starting at `off`, inflating at most
    * `limit` bytes; returns (FNAME, payload, offset-after-trailer) or
    * None on any violation. */
  private def decodeMember(
      bytes: Array[Byte], off: Int, inf: java.util.zip.Inflater,
      limit: Int): Option[(String, Array[Byte], Int)] = {
    if (bytes.length - off < 18) return None
    if ((bytes(off) & 0xff) != 0x1f || (bytes(off + 1) & 0xff) != 0x8b ||
        bytes(off + 2) != 8) return None
    val flg = bytes(off + 3) & 0xff
    if ((flg & 0xe0) != 0) return None // reserved bits must be zero
    var pos = off + 10
    if ((flg & 0x04) != 0) { // FEXTRA: 2-byte LE length + payload
      if (pos + 2 > bytes.length) return None
      val xlen = le16(bytes, pos)
      pos += 2 + xlen
      if (pos > bytes.length) return None
    }
    var name = ""
    if ((flg & 0x08) != 0) { // FNAME: NUL-terminated Latin-1
      val start = pos
      while (pos < bytes.length && bytes(pos) != 0) pos += 1
      if (pos >= bytes.length) return None
      name = new String(bytes, start, pos - start, "ISO-8859-1")
      pos += 1
    }
    if ((flg & 0x10) != 0) { // FCOMMENT: NUL-terminated, skipped
      while (pos < bytes.length && bytes(pos) != 0) pos += 1
      if (pos >= bytes.length) return None
      pos += 1
    }
    if ((flg & 0x02) != 0) { // FHCRC: 2-byte header CRC, skipped
      pos += 2
      if (pos > bytes.length) return None
    }
    if (bytes.length - pos < 8) return None // need at least the trailer
    val data = Compression.inflate(inf, bytes, pos, bytes.length - pos, limit,
      exact = false).getOrElse(return None)
    val consumed = (bytes.length - pos) - inf.getRemaining
    val tpos = pos + consumed
    if (tpos + 8 > bytes.length) return None
    val crc = new java.util.zip.CRC32(); crc.update(data)
    if (le32(bytes, tpos) != crc.getValue) return None
    if (le32(bytes, tpos + 4) != (data.length & 0xffffffffL)) return None
    Some((name, data, tpos + 8))
  }
}
