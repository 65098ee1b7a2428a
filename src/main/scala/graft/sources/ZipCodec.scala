package graft.sources

import Bytes._

/** ZIP archive codec (PKWARE APPNOTE) — the other archive shape
  * datasets actually ship in next to tar/webdataset: Kaggle exports,
  * image-caption bundles, scraped-document drops. The reference's
  * artifact bundles are tar/npy/h5 (dataops/dataset.py); ZIP is the
  * same members-in-one-object idea with a central directory instead
  * of streamed headers — which is exactly what makes it scan-friendly
  * at 100 TB: the member table sits at the END of the object, so a
  * reader lists and range-reads members without touching the rest.
  *
  * Decode walks the spec structures: locate the End Of Central
  * Directory record (backward signature scan over the ≤64 KiB comment
  * tail), walk the central directory's file headers, then for each
  * member verify its local header and inflate (method 8, raw deflate
  * via [[Compression.inflate]]) or copy (method 0, stored), and
  * check CRC-32 + declared size.
  *
  * ZIP64 (APPNOTE 4.5) is first-class: when the EOCD carries the
  * 0xFFFF / 0xFFFFFFFF sentinels the walk continues through the
  * ZIP64 EOCD locator into the ZIP64 EOCD record for the real
  * count/size/offset, and central-directory entries whose
  * size/offset fields are saturated resolve them from the 0x0001
  * extra field — at 100 TB scale the >4 GiB / >65k-member archive is
  * the NORMAL delivery shape, and the central-directory-first walk
  * is exactly what lets a scan range-read members out of one without
  * touching the rest. (In this in-memory codec a single OBJECT is
  * still bounded by the byte-array it arrived in; the format walk is
  * the scale path.) Multi-disk archives refuse — a split archive is
  * a mastering artifact, not a data-lake object.
  *
  * Contract discipline as the other container codecs: a structurally
  * broken ARCHIVE (bad EOCD/central-directory bounds or signatures,
  * counts over caps) refuses whole with None; a single bad MEMBER —
  * unsupported method (bzip2/lzma/zstd), encryption flag, local
  * header mismatch, deflate error, CRC or size mismatch, size over
  * [[MaxMemberBytes]] — degrades per member (skipped, the rest of
  * the archive survives). Directory entries (name ends '/') are
  * structural, not data, and are not emitted.
  */
object ZipCodec {

  case class Member(name: String, method: Int, data: Array[Byte])

  val MaxMembers: Int = 100000
  val MaxMemberBytes: Int = Compression.MaxInflatedBytes
  val MaxTotalBytes: Long = 1L << 31

  private val EocdSig = 0x06054b50
  private val CenSig = 0x02014b50
  private val LocSig = 0x04034b50
  private val Eocd64Sig = 0x06064b50
  private val Loc64Sig = 0x07064b50

  /** Decode an archive to its file members (per-member degrade), or
    * None if the central structure is broken. Never throws. */
  def decode(bytes: Array[Byte]): Option[Vector[Member]] =
    refusing(run(bytes)).flatten

  private def run(bytes: Array[Byte]): Option[Vector[Member]] = {
    val eocd = findEocd(bytes).getOrElse(return None)
    var total: Long = le16(bytes, eocd + 10)
    var cdSize: Long = le32(bytes, eocd + 12)
    var cdOff: Long = le32(bytes, eocd + 16)
    val disk = le16(bytes, eocd + 4)
    val cdDisk = le16(bytes, eocd + 6)
    val onDisk = le16(bytes, eocd + 8)
    if (total == 0xffffL || onDisk == 0xffff || cdSize == 0xffffffffL ||
        cdOff == 0xffffffffL || disk == 0xffff || cdDisk == 0xffff) {
      // ZIP64: the locator sits directly before the EOCD and names
      // the ZIP64 EOCD record holding the real 64-bit values
      val loc = eocd - 20
      if (loc < 0 || le32(bytes, loc) != Loc64Sig) return None
      if (le32(bytes, loc + 4) != 0 || le32(bytes, loc + 16) != 1) return None // multi-disk
      val e64 = le64(bytes, loc + 8)
      if (e64 < 0 || e64 + 56 > loc || le32(bytes, e64.toInt) != Eocd64Sig)
        return None
      val p64 = e64.toInt
      if (le32(bytes, p64 + 16) != 0 || le32(bytes, p64 + 20) != 0) return None // disks
      total = le64(bytes, p64 + 32)
      if (le64(bytes, p64 + 24) != total) return None // on-disk != total
      cdSize = le64(bytes, p64 + 40)
      cdOff = le64(bytes, p64 + 48)
      if (cdOff < 0 || cdSize < 0 || cdOff + cdSize > e64) return None
    } else {
      if (disk != 0 || cdDisk != 0 || onDisk != total) return None
      if (cdOff + cdSize > eocd) return None
    }
    if (total > MaxMembers) return None
    val out = Vector.newBuilder[Member]
    var p = cdOff.toInt
    var n = 0
    var budget = MaxTotalBytes
    while (n < total) {
      if (p + 46 > bytes.length || le32(bytes, p) != CenSig) return None
      val flags = le16(bytes, p + 8)
      val method = le16(bytes, p + 10)
      val crc = le32(bytes, p + 16)
      var csize = le32(bytes, p + 20)
      var usize = le32(bytes, p + 24)
      val nameLen = le16(bytes, p + 28)
      val extraLen = le16(bytes, p + 30)
      val commentLen = le16(bytes, p + 32)
      val diskStart = le16(bytes, p + 34)
      var locOff = le32(bytes, p + 42)
      if (p + 46 + nameLen + extraLen > bytes.length) return None
      val name = new String(bytes, p + 46, nameLen, "UTF-8")
      // ZIP64 extra (id 0x0001): 64-bit values, present IN ORDER for
      // exactly the header fields that carry the 0xFFFFFFFF sentinel
      if (usize == 0xffffffffL || csize == 0xffffffffL ||
          locOff == 0xffffffffL || diskStart == 0xffff) {
        var q = p + 46 + nameLen
        val qEnd = q + extraLen
        var found = false
        while (q + 4 <= qEnd && !found) {
          val id = le16(bytes, q)
          val sz = le16(bytes, q + 2)
          if (q + 4 + sz > qEnd) return None
          if (id == 0x0001) {
            var r = q + 4
            val rEnd = q + 4 + sz
            if (usize == 0xffffffffL) {
              if (r + 8 > rEnd) return None
              usize = le64(bytes, r); r += 8
            }
            if (csize == 0xffffffffL) {
              if (r + 8 > rEnd) return None
              csize = le64(bytes, r); r += 8
            }
            if (locOff == 0xffffffffL) {
              if (r + 8 > rEnd) return None
              locOff = le64(bytes, r); r += 8
            }
            if (diskStart == 0xffff) {
              if (r + 4 > rEnd || le32(bytes, r) != 0) return None
            }
            if (usize < 0 || csize < 0 || locOff < 0) return None
            found = true
          }
          q += 4 + sz
        }
        if (!found) return None
      } else if (diskStart != 0) return None
      p += 46 + nameLen + extraLen + commentLen
      n += 1
      if (!name.endsWith("/")) {
        if (usize <= MaxMemberBytes && usize <= budget &&
            csize <= Int.MaxValue)
          member(bytes, name, flags, method, crc, csize.toInt, usize.toInt,
            locOff).foreach { m => budget -= m.data.length; out += m }
      }
    }
    Some(out.result())
  }

  /** One member: local-header check + decompress + CRC/size verify.
    * None skips the member, not the archive. */
  private def member(
      bytes: Array[Byte], name: String, flags: Int, method: Int, crc: Long,
      csize: Int, usize: Int, locOff: Long): Option[Member] = {
    if ((flags & 0x1) != 0) return None // encrypted
    if (locOff + 30 > bytes.length || le32(bytes, locOff.toInt) != LocSig)
      return None
    val lp = locOff.toInt
    val lNameLen = le16(bytes, lp + 26)
    val lExtraLen = le16(bytes, lp + 28)
    val dataOff = lp + 30 + lNameLen + lExtraLen
    if (csize < 0 || dataOff.toLong + csize > bytes.length) return None
    val data: Array[Byte] = method match {
      case 0 =>
        if (csize != usize) return None
        java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + csize)
      case 8 =>
        Compression.inflate(bytes, dataOff, csize, usize, raw = true, exact = true)
          .getOrElse(return None)
      case _ => return None // bzip2/lzma/zstd/etc: unsupported method
    }
    if (data.length != usize) return None
    val c = new java.util.zip.CRC32()
    c.update(data)
    if (c.getValue != crc) return None
    Some(Member(name, method, data))
  }

  /** Backward scan for the EOCD signature within the spec's maximum
    * comment span (22-byte record + ≤65535 comment bytes). */
  private def findEocd(bytes: Array[Byte]): Option[Int] = {
    val floor = math.max(0, bytes.length - 22 - 65535)
    var p = bytes.length - 22
    while (p >= floor) {
      if (le32(bytes, p) == EocdSig &&
        p + 22 + le16(bytes, p + 20) == bytes.length) return Some(p)
      p -= 1
    }
    None
  }
}
