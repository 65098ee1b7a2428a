package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import Bytes.{be, be32, refuse}

/** NetCDF classic (CDF-1) container codec — the reference's per-test
  * prediction sink is `ds.to_netcdf` of an xarray Dataset
  * (presto-tolbi/presto/eval/cropharvest_eval.py:213-218), later
  * recombined by `TestInstance.load_from_nc`. This writes/reads the
  * same data shape (named dims + typed fixed-size variables with
  * attributes) as REAL `.nc` bytes per the public classic file
  * format: `CDF\x01` magic, big-endian dim/attr/var lists, 4-byte
  * aligned data blocks, 32-bit begin offsets.
  *
  * Scope: CDF-1, fixed-size (non-record) variables only, types
  * NC_CHAR / NC_INT / NC_FLOAT / NC_DOUBLE, global and per-variable
  * attributes. Record variables (numrecs > 0), CDF-2/CDF-5 offsets,
  * NC_BYTE/NC_SHORT are refused on read with None — never an
  * exception (the corrupt-shard skip contract shared by all codecs
  * here). The writer is pinned byte-identical against an independent
  * pure-Python struct-level CDF-1 writer (tools/netcdf_golden.py) in
  * NetcdfCodecSpec, and round-trip + container-size arithmetic are
  * oracle-graded by q_netcdf_roundtrip.
  */
object NetcdfCodec {

  sealed trait Data
  final case class CharData(s: String) extends Data
  final case class IntData(v: Array[Int]) extends Data
  final case class FloatData(v: Array[Float]) extends Data
  final case class DoubleData(v: Array[Double]) extends Data

  /** Attribute value: text or numeric (doubles). */
  final case class Attr(name: String, text: Option[String], nums: Array[Double]) {
    require(text.isEmpty || nums.isEmpty)
  }
  object Attr {
    def apply(name: String, s: String): Attr = Attr(name, Some(s), Array.empty)
    def apply(name: String, d: Array[Double]): Attr = Attr(name, None, d)
  }

  final case class Dim(name: String, length: Int)
  final case class Variable(name: String, dimIds: Array[Int], attrs: Seq[Attr], data: Data)
  final case class Nc(dims: Seq[Dim], gatts: Seq[Attr], vars: Seq[Variable])

  private val NcDimension = 0x0a
  private val NcVariable = 0x0b
  private val NcAttribute = 0x0c

  /** Decode-size envelope (the [[Hdf5Codec.MaxElements]] discipline):
    * headers are tiny, claimed dims are not — cap total decoded
    * elements so a hostile 40-byte header can't allocate gigabytes
    * on an executor. */
  val MaxElements: Long = 1L << 25

  private def typeOf(d: Data): Int = d match {
    case _: CharData => 2
    case _: IntData => 4
    case _: FloatData => 5
    case _: DoubleData => 6
  }
  private def sizeOfType(t: Int): Int = t match {
    case 1 | 2 => 1
    case 3 => 2
    case 4 | 5 => 4
    case 6 => 8
    case _ => refuse()
  }
  private def countOf(d: Data): Int = d match {
    // NC_CHAR elements are BYTES: a non-ASCII string's UTF-8 length,
    // not its UTF-16 code-unit count — conflating them would shift
    // every later variable's begin offset and garble the container
    case CharData(s) => s.getBytes(StandardCharsets.UTF_8).length
    case IntData(v) => v.length
    case FloatData(v) => v.length
    case DoubleData(v) => v.length
  }
  private def pad4(n: Int): Int = (n + 3) & ~3

  // ------------------------------------------------------------- encode

  private final class W {
    val out = new ByteArrayOutputStream()
    def i32(v: Int): Unit = out.write(be(v, 4))
    def bytes(b: Array[Byte]): Unit = out.write(b, 0, b.length)
    def padTo4(): Unit = while (out.size() % 4 != 0) out.write(0)
    def name(s: String): Unit = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      i32(b.length); bytes(b); padTo4()
    }
    def attrList(attrs: Seq[Attr]): Unit = {
      if (attrs.isEmpty) { i32(0); i32(0) }
      else {
        i32(NcAttribute); i32(attrs.size)
        attrs.foreach { a =>
          name(a.name)
          a.text match {
            case Some(s) =>
              val b = s.getBytes(StandardCharsets.UTF_8)
              i32(2); i32(b.length); bytes(b); padTo4()
            case None =>
              i32(6); i32(a.nums.length)
              val bb = ByteBuffer.allocate(a.nums.length * 8).order(ByteOrder.BIG_ENDIAN)
              a.nums.foreach(bb.putDouble)
              bytes(bb.array())
          }
        }
      }
    }
  }

  private def dataBytes(d: Data): Array[Byte] = d match {
    case CharData(s) => s.getBytes(StandardCharsets.UTF_8)
    case IntData(v) =>
      val bb = ByteBuffer.allocate(v.length * 4).order(ByteOrder.BIG_ENDIAN)
      v.foreach(bb.putInt); bb.array()
    case FloatData(v) =>
      val bb = ByteBuffer.allocate(v.length * 4).order(ByteOrder.BIG_ENDIAN)
      v.foreach(bb.putFloat); bb.array()
    case DoubleData(v) =>
      val bb = ByteBuffer.allocate(v.length * 8).order(ByteOrder.BIG_ENDIAN)
      v.foreach(bb.putDouble); bb.array()
  }

  /** Encode a fixed-size classic file. Every variable's element count
    * must equal the product of its dims' lengths. */
  def encode(nc: Nc): Array[Byte] = {
    nc.vars.foreach { v =>
      val expect = v.dimIds.map(i => nc.dims(i).length.toLong).product
      require(countOf(v.data) == expect,
        s"var ${v.name}: ${countOf(v.data)} elems != dims product $expect")
    }
    // vsize per var (padded); begins assigned after the header is sized
    val vsizes = nc.vars.map(v => pad4(countOf(v.data) * sizeOfType(typeOf(v.data))))

    def headerWith(begins: Seq[Int]): Array[Byte] = {
      val w = new W
      w.bytes("CDF".getBytes(StandardCharsets.US_ASCII)); w.out.write(1)
      w.i32(0) // numrecs: no record vars
      if (nc.dims.isEmpty) { w.i32(0); w.i32(0) }
      else {
        w.i32(NcDimension); w.i32(nc.dims.size)
        nc.dims.foreach { d => w.name(d.name); w.i32(d.length) }
      }
      w.attrList(nc.gatts)
      if (nc.vars.isEmpty) { w.i32(0); w.i32(0) }
      else {
        w.i32(NcVariable); w.i32(nc.vars.size)
        nc.vars.zipWithIndex.foreach { case (v, i) =>
          w.name(v.name)
          w.i32(v.dimIds.length); v.dimIds.foreach(w.i32)
          w.attrList(v.attrs)
          w.i32(typeOf(v.data)); w.i32(vsizes(i)); w.i32(begins(i))
        }
      }
      w.out.toByteArray
    }

    // two-pass: header length is independent of the begin VALUES (4 bytes each)
    val h0 = headerWith(Seq.fill(nc.vars.size)(0))
    val begins = vsizes.scanLeft(h0.length)(_ + _).dropRight(1)
    val out = new ByteArrayOutputStream()
    out.write(headerWith(begins))
    nc.vars.foreach { v =>
      val b = dataBytes(v.data)
      out.write(b, 0, b.length)
      var p = b.length
      while (p % 4 != 0) { out.write(0); p += 1 }
    }
    out.toByteArray
  }

  /** Exact container size for a file with the given layout — the
    * first-principles arithmetic the q_netcdf_roundtrip oracle
    * recomputes in SQL. */
  def containerSize(nc: Nc): Int = encode(nc).length

  // ------------------------------------------------------------- decode

  private final class R(d: Array[Byte]) {
    var p = 0
    def i32(): Int = { val v = be32(d, p).toInt; p += 4; v }
    def take(n: Int): Array[Byte] = {
      if (n < 0 || p + n > d.length) refuse()
      val a = java.util.Arrays.copyOfRange(d, p, p + n); p += n; a
    }
    def skipPad(n: Int): Unit = { val q = pad4(n) - n; if (q > 0) take(q) }
    def name(): String = {
      val n = i32()
      if (n < 0 || n > (1 << 20)) refuse()
      val s = new String(take(n), StandardCharsets.UTF_8)
      skipPad(n); s
    }
    def attrList(): Seq[Attr] = {
      val tag = i32(); val n = i32()
      if (tag == 0 && n == 0) return Nil
      if (tag != NcAttribute || n < 0 || n > (1 << 16)) refuse()
      (0 until n).map { _ =>
        val nm = name()
        val t = i32(); val ne = i32()
        if (ne < 0 || ne > (1 << 16)) refuse() // attr payloads are small
        t match {
          case 2 =>
            val s = new String(take(ne), StandardCharsets.UTF_8); skipPad(ne)
            Attr(nm, s)
          case 6 =>
            val bb = ByteBuffer.wrap(take(ne * 8)).order(ByteOrder.BIG_ENDIAN)
            Attr(nm, Array.fill(ne)(bb.getDouble))
          case _ => refuse() // attr types outside the supported profile
        }
      }
    }
  }

  /** Decode a CDF-1 classic file; None for record variables, CDF-2/5,
    * unsupported types, or any malformed header. Never throws. */
  def decode(bytes: Array[Byte]): Option[Nc] =
    try Some(decodeOrRefuse(bytes))
    catch { case _: RuntimeException => None } // refusals and index faults

  private def decodeOrRefuse(d: Array[Byte]): Nc = {
    if (d.length < 8 || d(0) != 'C' || d(1) != 'D' || d(2) != 'F') refuse()
    if (d(3) != 1) refuse() // CDF-2 (2) / CDF-5 (5): out of profile
    val r = new R(d)
    r.p = 4
    if (r.i32() != 0) refuse() // record vars out of profile
    val dimTag = r.i32(); val nd = r.i32()
    val dims =
      if (dimTag == 0 && nd == 0) Nil
      else if (dimTag == NcDimension && nd >= 0 && nd <= (1 << 16))
        (0 until nd).map { _ =>
          val nm = r.name(); val len = r.i32()
          if (len <= 0) refuse() // 0 = record dim: out of profile
          Dim(nm, len)
        }
      else refuse()
    val gatts = r.attrList()
    val varTag = r.i32(); val nv = r.i32()
    val varHdrs =
      if (varTag == 0 && nv == 0) Nil
      else if (varTag == NcVariable && nv >= 0 && nv <= (1 << 16))
        (0 until nv).map { _ =>
          val nm = r.name()
          val ndv = r.i32()
          if (ndv < 0 || ndv > 64) refuse()
          val dimIds = Array.fill(ndv) {
            val i = r.i32(); if (i < 0 || i >= dims.size) refuse(); i
          }
          val atts = r.attrList()
          val t = r.i32(); val vsize = r.i32(); val begin = r.i32()
          (nm, dimIds, atts, t, vsize, begin)
        }
      else refuse()
    var totalElems = 0L
    val vars = varHdrs.map { case (nm, dimIds, atts, t, vsize, begin) =>
      val n = dimIds.map(i => dims(i).length.toLong).product
      totalElems += n
      if (n > Int.MaxValue / 8 || totalElems > MaxElements) refuse()
      val nelems = n.toInt
      val raw = pad4(nelems * sizeOfType(t))
      if (vsize != raw) refuse()
      if (begin < 0 || begin.toLong + vsize > d.length) refuse()
      val bb = ByteBuffer.wrap(d, begin, nelems * sizeOfType(t)).order(ByteOrder.BIG_ENDIAN)
      val data: Data = t match {
        case 2 =>
          val b = new Array[Byte](nelems); bb.get(b)
          CharData(new String(b, StandardCharsets.UTF_8))
        case 4 => IntData(Array.fill(nelems)(bb.getInt))
        case 5 => FloatData(Array.fill(nelems)(bb.getFloat))
        case 6 => DoubleData(Array.fill(nelems)(bb.getDouble))
        case _ => refuse() // NC_BYTE/NC_SHORT not in the write profile
      }
      Variable(nm, dimIds, atts, data)
    }
    Nc(dims, gatts, vars)
  }
}
