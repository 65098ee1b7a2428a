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
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(data); d.finish()
    val buf = new Array[Byte](8192)
    while (!d.finished()) { val n = d.deflate(buf); out.write(buf, 0, n) }
    d.end()
    val crc = new java.util.zip.CRC32(); crc.update(data)
    out.write(le(crc.getValue, 4))
    out.write(le(data.length, 4)) // ISIZE: the length mod 2^32
    out.toByteArray
  }

  /** Ceiling on total inflated bytes per file. A scan over untrusted
    * buckets must bound memory per task: a 42 KB zip-bomb member can
    * legally inflate to 4 GB, and an executor decoding a few of those
    * concurrently dies. 256 MiB comfortably covers real corpus shards
    * (Common-Crawl WET shards inflate to ~300-400 MB *compressed at
    * ~1 GB files*; per-document shards here are KB-scale) while
    * keeping worst-case task memory bounded. Oversized files decode
    * to None — the skip contract, not an OOM. */
  val MaxInflatedBytes: Int = 256 << 20

  /** Decode a gzip FILE — one or more back-to-back members per
    * RFC 1952 §2.2 ("a gzip file consists of a series of members");
    * pigz/bgzip and `cat a.gz b.gz` all produce multi-member files,
    * and readers must concatenate the inflated payloads. Returns the
    * first member's FNAME plus the concatenation; None on any
    * structural violation in ANY member, on trailing non-member
    * garbage, or past [[MaxInflatedBytes]] — never throws. */
  def decode(bytes: Array[Byte]): Option[GzipFile] =
    refusing(run(bytes)).flatten

  private def run(bytes: Array[Byte]): Option[GzipFile] = {
    if (bytes.length < 18) return None
    val out = new java.io.ByteArrayOutputStream(
      math.min(bytes.length.toLong * 4, 1L << 20).toInt)
    var name: String = null
    var at = 0
    while (at < bytes.length) {
      decodeMember(bytes, at, out) match {
        case None => return None
        case Some((n, next)) =>
          if (name == null) name = n
          at = next
      }
    }
    Some(GzipFile(if (name == null) "" else name, out.toByteArray))
  }

  /** Decode the single member starting at `off`, appending its
    * inflated payload to `out`; returns (FNAME, offset-after-trailer)
    * or None on any violation. */
  private def decodeMember(
      bytes: Array[Byte], off: Int,
      out: java.io.ByteArrayOutputStream): Option[(String, Int)] = {
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
    val inf = new java.util.zip.Inflater(true)
    inf.setInput(bytes, pos, bytes.length - pos)
    val crc = new java.util.zip.CRC32()
    var memberLen = 0L
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput()) { inf.end(); return None } // truncated body
        memberLen += n
        if (out.size().toLong + n > MaxInflatedBytes) { inf.end(); return None }
        crc.update(buf, 0, n)
        out.write(buf, 0, n)
      }
    } catch {
      case _: java.util.zip.DataFormatException => inf.end(); return None
    }
    val consumed = (bytes.length - pos) - inf.getRemaining
    inf.end()
    val tpos = pos + consumed
    if (tpos + 8 > bytes.length) return None
    if (le32(bytes, tpos) != crc.getValue) return None
    if (le32(bytes, tpos + 4) != (memberLen & 0xffffffffL)) return None
    Some((name, tpos + 8))
  }
}
