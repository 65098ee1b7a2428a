package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.sources.Bytes

/** `sources.Bytes`: the shared byte readers and writers against
  * `java.nio.ByteBuffer`,
  * their refusal edges, the `refusing` contract, and a scan that keeps
  * the readers, the writers and the failure signal in that one home. */
class BytesSpec extends AnyFunSuite {

  private val buf: Array[Byte] = {
    val r = new scala.util.Random(7)
    Array.fill(37)(r.nextInt(256).toByte)
  }

  /** Unsigned `n`-byte value at `p` per ByteBuffer: the bytes padded
    * to 8 on their high end, read as one long. */
  private def expected(p: Int, n: Int, order: ByteOrder): Long = {
    val pad = new Array[Byte](8)
    if (order == ByteOrder.LITTLE_ENDIAN) System.arraycopy(buf, p, pad, 0, n)
    else System.arraycopy(buf, p, pad, 8 - n, n)
    ByteBuffer.wrap(pad).order(order).getLong
  }

  private val LE = ByteOrder.LITTLE_ENDIAN
  private val BE = ByteOrder.BIG_ENDIAN

  private case class Reader(name: String, n: Int, order: ByteOrder,
      read: (Array[Byte], Long) => Long)

  private val readers: Seq[Reader] = Seq(
    Reader("u8", 1, LE, (b, p) => Bytes.u8(b, p).toLong),
    Reader("le16", 2, LE, (b, p) => Bytes.le16(b, p).toLong),
    Reader("be16", 2, BE, (b, p) => Bytes.be16(b, p).toLong),
    Reader("le24", 3, LE, (b, p) => Bytes.le24(b, p).toLong),
    Reader("be24", 3, BE, (b, p) => Bytes.be24(b, p).toLong),
    Reader("le32", 4, LE, Bytes.le32),
    Reader("be32", 4, BE, Bytes.be32),
    Reader("le64", 8, LE, Bytes.le64),
    Reader("be64", 8, BE, Bytes.be64),
    Reader("u16(le)", 2, LE, (b, p) => Bytes.u16(b, p, le = true).toLong),
    Reader("u16(be)", 2, BE, (b, p) => Bytes.u16(b, p, le = false).toLong),
    Reader("u32(le)", 4, LE, (b, p) => Bytes.u32(b, p, le = true)),
    Reader("u32(be)", 4, BE, (b, p) => Bytes.u32(b, p, le = false))) ++
    (0 to 8).flatMap(n => Seq(
      Reader(s"leN($n)", n, LE, (b, p) => Bytes.leN(b, p, n)),
      Reader(s"beN($n)", n, BE, (b, p) => Bytes.beN(b, p, n))))

  test("every reader matches ByteBuffer at offset 0 and at length - n") {
    for (r <- readers; p <- Seq(0, buf.length - r.n))
      assert(r.read(buf, p) == expected(p, r.n, r.order), s"${r.name} at $p")
    assert(Bytes.fourcc("RIFFxWAVE".getBytes("US-ASCII"), 5) == "WAVE")
  }

  test("every reader refuses at -1, at length - n + 1 and at 2^31") {
    val fourcc = Reader("fourcc", 4, BE, (b, p) => Bytes.fourcc(b, p).length)
    for (r <- readers :+ fourcc; p <- Seq(-1L, buf.length - r.n + 1L, 1L << 31)) {
      val e = intercept[RuntimeException](r.read(buf, p))
      assert(e eq Bytes.Refused, s"${r.name} at $p threw $e")
    }
  }

  test("refusing maps Refused to None and lets every other exception through") {
    assert(Bytes.refusing(42).contains(42))
    assert(Bytes.refusing(Bytes.refuse()).isEmpty)
    assert(Bytes.refusing(Bytes.le32(buf, buf.length.toLong)).isEmpty)
    // the broader catches in PdfCodec, JpegCodec, NetcdfCodec and
    // Hdf5Codec are their own decision, not the helper's
    intercept[ArrayIndexOutOfBoundsException](
      Bytes.refusing(buf(buf.length)))
    intercept[NumberFormatException](Bytes.refusing("x".toInt))
    assert(Bytes.Refused.getStackTrace.isEmpty, "refusal must be stackless")
  }

  private def bytesOf(b: ByteBuffer): Array[Byte] = b.array()

  test("every writer matches ByteBuffer in both byte orders for n = 1..8") {
    val values = Seq(0L, 1L, -1L, 0x0123456789abcdefL, Long.MinValue,
      Long.MaxValue, 0x80L, 0xfedcba98L)
    for (v <- values; n <- 1 to 8) {
      // ByteBuffer writes all 8 bytes; the writers keep the low n
      val le = bytesOf(ByteBuffer.allocate(8).order(LE).putLong(v)).take(n)
      val be = bytesOf(ByteBuffer.allocate(8).order(BE).putLong(v)).drop(8 - n)
      assert(Bytes.le(v, n).sameElements(le), s"le($v, $n)")
      assert(Bytes.be(v, n).sameElements(be), s"be($v, $n)")
      val b = Array.fill[Byte](n + 3)(0x5a)
      Bytes.putLe(b, 2, v, n)
      assert(b.slice(2, 2 + n).sameElements(le), s"putLe($v, $n)")
      assert(b.take(2).forall(_ == 0x5a) && b.drop(2 + n).forall(_ == 0x5a),
        s"putLe($v, $n) wrote outside its n bytes")
      Bytes.putBe(b, 1, v, n)
      assert(b.slice(1, 1 + n).sameElements(be), s"putBe($v, $n)")
    }
  }

  test("a write then a read through the Bytes readers is the identity") {
    val r = new scala.util.Random(11)
    for (_ <- 0 until 200; n <- 1 to 8) {
      val v = r.nextLong()
      val mask = if (n == 8) -1L else (1L << (8 * n)) - 1
      val b = new Array[Byte](n + 4)
      Bytes.putLe(b, 3, v, n)
      assert(Bytes.leN(b, 3, n) == (v & mask), s"le $v $n")
      Bytes.putBe(b, 1, v, n)
      assert(Bytes.beN(b, 1, n) == (v & mask), s"be $v $n")
    }
    val b = new Array[Byte](8)
    Bytes.putLe(b, 0, 0xbeefL, 2); assert(Bytes.le16(b, 0) == 0xbeef)
    Bytes.putBe(b, 0, 0xbeefL, 2); assert(Bytes.be16(b, 0) == 0xbeef)
    Bytes.putLe(b, 4, 0xdeadbeefL, 4); assert(Bytes.le32(b, 4) == 0xdeadbeefL)
    Bytes.putBe(b, 4, 0xdeadbeefL, 4); assert(Bytes.be32(b, 4) == 0xdeadbeefL)
    Bytes.putLe(b, 0, -2L, 8); assert(Bytes.le64(b, 0) == -2L)
    Bytes.putBe(b, 0, -2L, 8); assert(Bytes.be64(b, 0) == -2L)
  }

  test("sources: only Bytes declares a failure class or assembles integers") {
    // "assembles" covers both directions: reading integers and writing them
    // every `sources` codec, and the TIFF codec in MultimodalOps
    val stackless = "RuntimeException(null, null, false, false)"
    // a reader-named def (tiffU16 and f64 included)
    val readerDef =
      """def\s+((?:b?u|i|le|be|t|tiffU|f)(?:8|16|24|32|64|N)(?:le|be)?|fourcc)\s*(\([^)]*\))?""".r
    // any def, for the writer rule: its name and parameter list
    val anyDef = """def\s+(\w+)\s*(\([^)]*\))?""".r
    // a masked byte shifted left by a whole number of bytes: integer
    // assembly (a bit reader shifts by a bit count instead)
    val assembles = """& 0xffL?\)\s*<<\s*\(?\s*(?:8|16|24|32|40|48|56|8\s*\*)""".r
    // a value shifted right by whole bytes, then masked or narrowed
    // to one byte
    val splits =
      """\(\s*[\w.]+\s*>>>?\s*\(?(?:8|16|24|32|40|48|56|8\s*\*\s*\w+)\)?\s*\)\s*(?:&\s*0xff\b|\.toByte)""".r
    val sentinel = """-1L?\b|Long\.MinValue""".r
    val dir = Paths.get("src/main/scala/graft/sources")
    val files = {
      val s = Files.list(dir)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.exists(_.getFileName.toString == "Bytes.scala"))
    val scanned = files.filterNot(_.getFileName.toString == "Bytes.scala")
      .sortBy(_.toString) :+ Paths.get("src/main/scala/graft/operators/MultimodalOps.scala")
    val found = scanned.flatMap { f =>
        val name = f.getFileName.toString
        val text = new String(Files.readAllBytes(f), "UTF-8")
        val lines = text.split("\n", -1)
        def lineOf(off: Int) = text.substring(0, off).count(_ == '\n') + 1
        // a def's own line and its next lines up to the next def
        def bodyAt(ln: Int) = (lines(ln - 1) +: lines.slice(ln, ln + 5)
          .takeWhile(!_.contains("def "))).mkString("\n")
        def takesV(params: String) = """\bv\s*:""".r.findFirstIn(params).nonEmpty
        val classes = lines.zipWithIndex.collect {
          case (l, i) if l.contains(stackless) => s"$name:${i + 1} failure class"
        }
        // a reader: a reader-named def that takes no value to write and
        // masks bytes itself or answers a sentinel instead of refusing
        val readers = readerDef.findAllMatchIn(text).flatMap { m =>
          val ln = lineOf(m.start)
          val body = bodyAt(ln)
          val params = Option(m.group(2)).getOrElse("")
          if (!takesV(params) &&
              (body.contains("0xff") || sentinel.findFirstIn(body).nonEmpty))
            Some(s"$name:$ln reader ${m.group(1)}")
          else None
        }
        // a writer: a def that takes a value `v` and shifts it, masking
        // or narrowing its bytes itself
        val writers = anyDef.findAllMatchIn(text).flatMap { m =>
          val ln = lineOf(m.start)
          val body = bodyAt(ln)
          if (takesV(Option(m.group(2)).getOrElse("")) && body.contains(">>") &&
              (body.contains("0xff") || body.contains(".toByte")))
            Some(s"$name:$ln writer ${m.group(1)}")
          else None
        }
        val inline = lines.zipWithIndex.flatMap { case (l, i) =>
          val code = l.takeWhile(_ != '/') // comments may show arithmetic
          if (assembles.findFirstIn(code).nonEmpty) Some(s"$name:${i + 1} assembles bytes")
          else if (splits.findFirstIn(code).nonEmpty &&
              (code.contains(".toByte") || code.contains(".write(")))
            Some(s"$name:${i + 1} splits bytes")
          else None
        }
        classes ++ readers ++ writers ++ inline
      }
    if (found.nonEmpty) fail(found.mkString("\n", "\n", ""))
  }

  test("src/main: only Compression constructs a zlib inflater or deflater") {
    // every codec inflates, deflates and drains through Compression, under
    // its one acceptance rule; a java.util.zip stream wrapper would carry
    // a loop and a rule of its own
    val zlib = """new\s+(?:java\.util\.zip\.)?\w*(?:Inflater|Deflater|GZIP)\w*""".r
    val (home, found) = SourceScan.sites(SourceScan.code(_ => false), zlib)
      .partition(_._1 == "Compression.scala")
    assert(home.size == 2, "the scan no longer sees Compression's own inflater and deflater")
    if (found.nonEmpty) fail(found.mkString("\n", "\n", ""))
  }
}
