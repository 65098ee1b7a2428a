package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ZipCodec

/** Contract specs for the ZIP codec: central-directory walk,
  * per-member vs per-file degrade, and the refusal contract under
  * hostile bytes. Valid archives here come from the JDK's OWN
  * ZipOutputStream (an independent encoder); cross-writer pinning
  * against Python zipfile runs through the oracle-graded q_zip_scan. */
class ZipCodecSpec extends AnyFunSuite {

  private def archive(entries: (String, Array[Byte], Boolean)*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, data, stored) =>
      val e = new java.util.zip.ZipEntry(name)
      if (stored) {
        e.setMethod(java.util.zip.ZipOutputStream.STORED)
        e.setSize(data.length.toLong)
        val c = new java.util.zip.CRC32(); c.update(data)
        e.setCrc(c.getValue)
      }
      z.putNextEntry(e); z.write(data); z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private val basic = archive(
    ("a/doc.txt", "the rains reached the basin".getBytes, false),
    ("b/raw.bin", Array.tabulate(300)(_.toByte), true),
    ("empty.txt", Array.emptyByteArray, false))

  test("members decode with exact payloads; methods reported") {
    val ms = ZipCodec.decode(basic).get
    assert(ms.map(_.name) == Vector("a/doc.txt", "b/raw.bin", "empty.txt"))
    assert(new String(ms(0).data) == "the rains reached the basin")
    assert(ms(0).method == 8 && ms(1).method == 0)
    assert(ms(1).data.sameElements(Array.tabulate(300)(_.toByte)))
    assert(ms(2).data.isEmpty)
  }

  test("directory entries are structural, not data") {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("dir/")); z.closeEntry()
    z.putNextEntry(new java.util.zip.ZipEntry("dir/x")); z.write(7); z.closeEntry()
    z.close()
    val ms = ZipCodec.decode(bos.toByteArray).get
    assert(ms.map(_.name) == Vector("dir/x"))
  }

  test("zip64: saturated EOCD walks locator -> zip64 EOCD; per-entry 0x0001 extras") {
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.base, "q_zip_scan", "zip64-04.zip"))
    val ms = ZipCodec.decode(b).get
    assert(ms.map(_.name) == Vector("big/part-000.txt", "big/part-001.txt"))
    assert(ms(0).method == 0 && ms(0).data.length == 224)
    assert(ms(1).method == 8 && ms(1).data.length == 366)
    assert(new String(ms(0).data, "UTF-8").startsWith("zip64 stored member"))
    // structural damage inside the zip64 chain refuses whole
    val noLoc = b.clone
    val locAt = b.length - 22 - 20
    noLoc(locAt) = 'X'.toByte // locator signature
    assert(ZipCodec.decode(noLoc).isEmpty)
    val badE64 = b.clone
    badE64(locAt + 8) = (badE64(locAt + 8) ^ 0x40).toByte // e64 offset
    assert(ZipCodec.decode(badE64).isEmpty)
    // dropping the 0x0001 extra id orphans the sentinels: refuse
    val noExtra = b.clone
    val nameAt = indexOfSlice(noExtra, "big/part-000.txt".getBytes)
    val cdAt = indexOfSlice(noExtra, "big/part-000.txt".getBytes, nameAt + 1)
    assert(cdAt > 0)
    noExtra(cdAt + 16) = 0x33 // extra header id low byte
    assert(ZipCodec.decode(noExtra).isEmpty)
  }

  test("per-file refusal: truncation, EOCD damage, bogus bytes") {
    assert(ZipCodec.decode(Array.emptyByteArray).isEmpty)
    assert(ZipCodec.decode(basic.dropRight(1)).isEmpty)
    assert(ZipCodec.decode(basic.dropRight(23)).isEmpty)
    assert(ZipCodec.decode("PKnot a real zip".getBytes).isEmpty)
    // EOCD claiming a central directory past the archive end
    val b = basic.clone
    val eocd = b.length - 22
    b(eocd + 16) = -1; b(eocd + 17) = -1; b(eocd + 18) = -1; b(eocd + 19) = 0
    assert(ZipCodec.decode(b).isEmpty)
  }

  test("per-member degrade: CRC flip and encryption flag skip the member only") {
    // flip one payload byte of the STORED member: its CRC check fails,
    // the deflated siblings survive
    val b = basic.clone
    val pay = Array.tabulate(300)(_.toByte)
    val at = indexOfSlice(b, pay)
    assert(at > 0)
    b(at + 5) = (b(at + 5) ^ 0x7f).toByte
    val ms = ZipCodec.decode(b).get
    assert(ms.map(_.name) == Vector("a/doc.txt", "empty.txt"))

    // set the encryption bit in the member's central + local flags
    val c = basic.clone
    val cen = indexOfSlice(c, "PK".getBytes) // first CD header
    c(cen + 8) = (c(cen + 8) | 1).toByte
    val ms2 = ZipCodec.decode(c).get
    assert(ms2.map(_.name) == Vector("b/raw.bin", "empty.txt"))
  }

  test("archive comment: EOCD found through the backward scan") {
    val comment = ("trailing comment " * 10).getBytes
    val b = basic.clone
    val eocd = b.length - 22
    b(eocd + 20) = (comment.length & 0xff).toByte
    b(eocd + 21) = ((comment.length >> 8) & 0xff).toByte
    assert(ZipCodec.decode(b ++ comment).get.size == 3)
  }

  test("fuzz: random corruption never throws") {
    val rnd = new scala.util.Random(1234)
    val fz = new FuzzDigest
    (0 until 400).foreach { _ =>
      val b = basic.clone
      (0 until 1 + rnd.nextInt(5)).foreach { _ =>
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      }
      val cut = if (rnd.nextBoolean()) b.take(rnd.nextInt(b.length)) else b
      fz.add(ZipCodec.decode(cut))
    }
    assert(fz.hex == "400/162:184e8b4c86c78f22", fz.hex)
  }

  private def indexOfSlice(hay: Array[Byte], needle: Array[Byte],
      from: Int = 0): Int = {
    var i = math.max(0, from)
    while (i + needle.length <= hay.length) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }
}
