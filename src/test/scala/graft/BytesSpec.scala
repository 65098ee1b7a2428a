package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.sources.Bytes

/** `sources.Bytes`: the shared byte readers against `java.nio.ByteBuffer`,
  * their refusal edges, the `refusing` contract, and a scan that keeps
  * the readers and the failure signal in that one home. */
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

  test("sources: only Bytes declares a failure class or assembles integers") {
    // Hdf5Codec keeps its sentinel-returning readers: callers branch on
    // Long.MinValue / -1L, and -1L is also HDF5's undefined address.
    val exempt = Set("Bytes.scala", "Hdf5Codec.scala")
    val stackless = "RuntimeException(null, null, false, false)"
    val readerDef =
      """def\s+((?:b?u|i|le|be|t)(?:8|16|24|32|64|N)(?:le|be)?|fourcc)\s*(\([^)]*\))?""".r
    val dir = Paths.get("src/main/scala/graft/sources")
    val files = {
      val s = Files.list(dir)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.exists(_.getFileName.toString == "Bytes.scala"))
    val found = files.filterNot(f => exempt(f.getFileName.toString))
      .sortBy(_.toString).flatMap { f =>
        val name = f.getFileName.toString
        val text = new String(Files.readAllBytes(f), "UTF-8")
        val lines = text.split("\n", -1)
        def lineOf(off: Int) = text.substring(0, off).count(_ == '\n') + 1
        val classes = lines.zipWithIndex.collect {
          case (l, i) if l.contains(stackless) => s"$name:${i + 1} failure class"
        }
        // a reader: a reader-named def that takes no value to write
        // (`v`) and masks bytes itself within its first lines
        val defs = readerDef.findAllMatchIn(text).flatMap { m =>
          val params = Option(m.group(2)).getOrElse("")
          val ln = lineOf(m.start)
          val body = (lines(ln - 1) +: lines.slice(ln, ln + 5)
            .takeWhile(!_.contains("def "))).mkString("\n")
          if ("""\bv\s*:""".r.findFirstIn(params).isEmpty && body.contains("0xff"))
            Some(s"$name:$ln reader ${m.group(1)}")
          else None
        }
        classes ++ defs
      }
    if (found.nonEmpty) fail(found.mkString("\n", "\n", ""))
  }
}
