package graft.sources

import Bytes._

/** Minimal pure-Scala HDF5 reader for the fixed CropHarvest layout —
  * the one reference container format that previously had only a
  * parquet stand-in (SURVEY §2.1): `h5py.File(path, 'w')` +
  * `create_dataset(key, data=ndarray)` per key
  * (eval/cropharvest_extensions.py:323-377, engineer.py upstream),
  * which under h5py's default settings is
  *
  *  - superblock version 0, OR superblock v2/v3 with version-2
  *    ("OHDR") object headers, compact inline hard links, and
  *    layout-v4 chunk indexes (single-chunk / implicit / fixed
  *    array INCLUDING the paged form any >2^page-bits-chunk dataset
  *    gets / extensible array with its EAHD → EAIB →
  *    EASB → EADB walk — the index h5py writes for ANY
  *    maxshape=resizable dataset — INCLUDING paged EA data blocks
  *    (element pages + the owning super block's per-data-block
  *    page-init bitmasks, the shape past ~65k chunks at default
  *    creation params) / v2 B-trees at any depth
  *    (budget-bounded), the index for >1 unlimited dimension) — the
  *    h5py libver='latest' shape
  *    (dense fractal-heap link storage stays refused),
  *  - a root group addressed by a v1 B-tree over SNOD symbol nodes
  *    with names in a local heap,
  *  - v1 object headers per dataset (dataspace v1, datatype classes
  *    fixed-point/float in little-endian, layout v3 class 1
  *    CONTIGUOUS — or class 2 CHUNKED with an optional filter
  *    pipeline of deflate and/or byte-shuffle, the
  *    `h5py compression="gzip"` / `shuffle=True` shapes: chunk
  *    B-trees at any depth (budget-bounded recursive walk),
  *    full-size edge-padded chunks),
  *  - raw data following each header (or per-chunk blobs).
  *
  * Refusal contract (the [[GzipCodec]]/[[PngCodec]] discipline):
  * anything outside that envelope — compact layout, filters beyond
  * deflate+shuffle,
  * big-endian or non-scalar datatypes, fractured group B-trees deeper
  * than one level, truncated anything — returns None, never throws, so
  * one corrupt object skips instead of killing a distributed scan.
  * Unknown MESSAGES (attributes, mtimes, fill values) are skipped per
  * the spec; unknown STRUCTURE is refused. Values widen to Double
  * (the [[graft.operators.MultimodalOps.DecodedRaster]] convention).
  *
  * Golden-pinned against an independent from-scratch Python struct
  * writer (tools/h5_golden.py) following the same public spec.
  */
object Hdf5Codec {

  /** One decoded dataset: name, shape, source dtype, row-major values
    * widened to Double. */
  case class H5Dataset(name: String, shape: Seq[Long], dtype: String,
                       values: Array[Double])

  private val Signature =
    Array[Int](0x89, 0x48, 0x44, 0x46, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
  private val Undef = -1L // 0xFFFF.. as signed

  /** Total element ceiling across all datasets (2^25 doubles =
    * 256 MB decoded) — the decode-size envelope every codec here
    * carries. */
  val MaxElements: Long = 1L << 25

  /** Catch-all wrapper (the JpegCodec pattern): a structurally hostile
    * file must SKIP (None), never throw out of a scan task. */
  def decode(bytes: Array[Byte]): Option[Seq[H5Dataset]] =
    try decodeImpl(bytes)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Bob Jenkins lookup3 hashlittle with initval 0 (public-domain
    * lookup3.c; the checksum all HDF5 v2 metadata carries). Trailing
    * checksums are normally NOT verified here (bounds-checked reads
    * degrade to refusal) — the one consumer is the index-block-
    * referenced PAGED extensible-array data block, where no page-init
    * bitmap exists on disk and a checksum is the only way to tell a
    * WRITTEN element page from uninitialized junk. */
  private[graft] def lookup3(b: Array[Byte], off: Int, len: Int): Int = {
    @inline def rot(x: Int, k: Int): Int = (x << k) | (x >>> (32 - k))
    @inline def u(i: Int): Int = b(i) & 0xff
    @inline def w(i: Int, n: Int): Int = { // little-endian word, n<=4 bytes
      var v = 0; var j = 0
      while (j < n) { v |= u(i + j) << (8 * j); j += 1 }
      v
    }
    var a = 0xdeadbeef + len; var bb = a; var c = a
    var p = off; var l = len
    while (l > 12) {
      a += w(p, 4); bb += w(p + 4, 4); c += w(p + 8, 4)
      a -= c; a ^= rot(c, 4); c += bb
      bb -= a; bb ^= rot(a, 6); a += c
      c -= bb; c ^= rot(bb, 8); bb += a
      a -= c; a ^= rot(c, 16); c += bb
      bb -= a; bb ^= rot(a, 19); a += c
      c -= bb; c ^= rot(bb, 4); bb += a
      p += 12; l -= 12
    }
    if (l > 0) {
      a += w(p, math.min(l, 4))
      if (l > 4) bb += w(p + 4, math.min(l - 4, 4))
      if (l > 8) c += w(p + 8, l - 8)
      c ^= bb; c -= rot(bb, 14)
      a ^= c; a -= rot(c, 11)
      bb ^= a; bb -= rot(a, 25)
      c ^= bb; c -= rot(bb, 16)
      a ^= c; a -= rot(c, 4)
      bb ^= a; bb -= rot(a, 14)
      c ^= bb; c -= rot(bb, 24)
    }
    c
  }

  private def decodeImpl(bytes: Array[Byte]): Option[Seq[H5Dataset]] = {
    if (bytes.length < 96) return None
    var i = 0
    while (i < 8) { if (bytes(i) != Signature(i)) return None; i += 1 }

    // ---- superblock: v0 (symbol-table root) or v2/v3 (OHDR root —
    // the h5py libver='latest' world; v3 shares v2's field layout)
    val sbVersion = u8(bytes, 8)
    val rootHeader = sbVersion match {
      case 0 =>
        if (u8(bytes, 13) != 8 || u8(bytes, 14) != 8) return None // offsets/lengths must be 8 bytes
        // root group symbol table entry at offset 56: header address at
        // +8, cache type at +16 (0 = none, 1 = cached stab — both fine,
        // the header's own stab message is authoritative)
        le64(bytes, 56 + 8)
      case 2 | 3 =>
        if (u8(bytes, 9) != 8 || u8(bytes, 10) != 8) return None // offsets/lengths must be 8 bytes
        // base addr +12, extension +20, EOF +28, root header +36
        le64(bytes, 36)
      case _ => return None // v1 never shipped; anything else is hostile
    }
    if (rootHeader <= 0) return None

    // ---- v2 ("OHDR") object header walk: no message count — the walk
    // consumes the chunk-0 area, following OCHK continuation blocks;
    // trailing lookup3 checksums are not verified (every read is
    // bounds-checked, so a corrupt header degrades to a refusal)
    def messagesV2(headerAt: Long): Option[Seq[(Int, Long, Int)]] = {
      if (u8(bytes, headerAt + 4) != 2) return None
      val flags = u8(bytes, headerAt + 5)
      var pos = headerAt + 6
      if ((flags & 0x20) != 0) pos += 16 // 4 timestamps
      if ((flags & 0x10) != 0) pos += 4 // attribute phase-change
      val szBytes = 1 << (flags & 0x03)
      val chunk0 = leN(bytes, pos, szBytes)
      pos += szBytes
      if (chunk0 < 0 || chunk0 > (1 << 26) || pos + chunk0 > bytes.length) return None
      val track = (flags & 0x04) != 0
      val hdrLen = if (track) 6 else 4 // type(1) size(2) flags(1) [order(2)]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Int)]
      var blocks = List((pos, pos + chunk0))
      var blockCount = 0
      while (blocks.nonEmpty) {
        blockCount += 1
        if (blockCount > 32) return None // continuation cycles
        val (start, end) = blocks.head
        blocks = blocks.tail
        var p2 = start
        while (p2 + hdrLen <= end) {
          val typ = u8(bytes, p2)
          val msize = le16(bytes, p2 + 1)
          val bodyAt = p2 + hdrLen
          if (bodyAt + msize > end) return None
          if (typ == 0x10) { // continuation: OCHK block, checksum-tailed
            if (msize < 16) return None
            val off = le64(bytes, bodyAt); val len = le64(bytes, bodyAt + 8)
            if (off < 0 || len < 12 || off + len > bytes.length) return None
            if (!(u8(bytes, off) == 'O' && u8(bytes, off + 1) == 'C' &&
                  u8(bytes, off + 2) == 'H' && u8(bytes, off + 3) == 'K')) return None
            blocks = blocks :+ ((off + 4, off + len - 4))
          } else out += ((typ, bodyAt, msize))
          p2 = bodyAt + msize
        }
      }
      Some(out.toSeq)
    }

    // ---- v1 object header walk: returns (msgType, bodyOffset, bodySize)
    def messages(headerAt: Long): Option[Seq[(Int, Long, Int)]] = {
      if (u8(bytes, headerAt) == 'O' && u8(bytes, headerAt + 1) == 'H' &&
          u8(bytes, headerAt + 2) == 'D' && u8(bytes, headerAt + 3) == 'R')
        return messagesV2(headerAt)
      if (u8(bytes, headerAt) != 1) return None // v1 only
      val nmsgs = le16(bytes, headerAt + 2)
      val hdrSize = le32(bytes, headerAt + 8)
      if (nmsgs > 1024) return None
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Int)]
      // blocks: (start, size) — continuation messages extend the walk
      var blocks = List((headerAt + 16, hdrSize))
      var remaining = nmsgs
      while (remaining > 0 && blocks.nonEmpty) {
        val (start, size) = blocks.head
        blocks = blocks.tail
        var pos = start
        val end = start + size
        while (remaining > 0 && pos + 8 <= end) {
          val typ = le16(bytes, pos)
          val msize = le16(bytes, pos + 2)
          if (pos + 8 + msize > end) return None
          if (typ == 0x0010) { // continuation: offset u64 + length u64
            if (msize < 16) return None
            blocks = blocks :+ ((le64(bytes, pos + 8), le64(bytes, pos + 16)))
          } else out += ((typ, pos + 8, msize))
          remaining -= 1
          pos += 8 + msize
        }
      }
      if (remaining != 0) None else Some(out.toSeq)
    }

    // ---- root group: EITHER a symbol-table message (v0 world:
    // b-tree + heap + SNOD) OR compact inline hard-link messages
    // (v2 OHDR world); dense link storage (fractal heap) refused
    val rootMsgs = messages(rootHeader).getOrElse(return None)
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    rootMsgs.find(_._1 == 0x0011) match {
      case Some(stab) =>
        val btreeAt = le64(bytes, stab._2)
        val heapAt = le64(bytes, stab._2 + 8)
        if (btreeAt <= 0 || heapAt <= 0) return None

        // local heap: data segment address at +24 (after sig+ver+res,
        // seg size u64, free-list head u64)
        if (!(u8(bytes, heapAt) == 'H' && u8(bytes, heapAt + 1) == 'E' &&
              u8(bytes, heapAt + 2) == 'A' && u8(bytes, heapAt + 3) == 'P')) return None
        val heapData = le64(bytes, heapAt + 24)
        def heapName(off: Long): Option[String] = {
          val at = heapData + off
          if (at < 0 || at >= bytes.length) return None
          var e = at.toInt
          while (e < bytes.length && bytes(e) != 0) e += 1
          if (e >= bytes.length) None
          else Some(new String(bytes, at.toInt, e - at.toInt, "US-ASCII"))
        }

        // b-tree: single leaf (level 0) is the CropHarvest shape; deeper
        // trees (thousands of links) are out of envelope
        if (!(u8(bytes, btreeAt) == 'T' && u8(bytes, btreeAt + 1) == 'R' &&
              u8(bytes, btreeAt + 2) == 'E' && u8(bytes, btreeAt + 3) == 'E')) return None
        if (u8(bytes, btreeAt + 4) != 0) return None // node type: group
        if (u8(bytes, btreeAt + 5) != 0) return None // level 0 (leaf)
        val nChildren = le16(bytes, btreeAt + 6)
        if (nChildren > 64) return None

        // symbol nodes → (name, object header address)
        var ci = 0
        while (ci < nChildren) {
          // child i address sits after the 24-byte node header + key 0,
          // alternating key/child (keys and children are 8 bytes each)
          val childAt = le64(bytes, btreeAt + 24 + 8 + ci * 16L)
          if (!(u8(bytes, childAt) == 'S' && u8(bytes, childAt + 1) == 'N' &&
                u8(bytes, childAt + 2) == 'O' && u8(bytes, childAt + 3) == 'D')) return None
          val nsyms = le16(bytes, childAt + 6)
          if (nsyms > 1024) return None
          var si = 0
          while (si < nsyms) {
            val ste = childAt + 8 + si * 40L
            val nameOff = le64(bytes, ste)
            val objAt = le64(bytes, ste + 8)
            val name = heapName(nameOff).getOrElse(return None)
            entries += ((name, objAt))
            si += 1
          }
          ci += 1
        }
      case None =>
        // compact-link group — OR dense link storage when the
        // link-info message carries a fractal heap (the layout any
        // group past its compact-storage threshold gets: heap objects
        // are link messages, enumerated via the name-index v2 B-tree)
        rootMsgs.find(_._1 == 0x0002).foreach { case (_, b, _) =>
          if (u8(bytes, b) != 0) return None
          val liFlags = u8(bytes, b + 1)
          var q = b + 2
          if ((liFlags & 1) != 0) q += 8 // max creation index
          val fheapAt = le64(bytes, q)
          if (fheapAt != Undef) {
            val nameBtAt = le64(bytes, q + 8)
            if (nameBtAt == Undef) return None
            entries ++= denseLinks(bytes, fheapAt, nameBtAt)
              .getOrElse(return None)
          }
        }
        for ((t, b, _) <- rootMsgs if t == 0x0006) {
          if (u8(bytes, b) != 1) return None // link message v1 only
          val lf = u8(bytes, b + 1)
          var q = b + 2
          val ltype = if ((lf & 0x08) != 0) { val v = u8(bytes, q); q += 1; v } else 0
          if (ltype != 0) return None // hard links only
          if ((lf & 0x04) != 0) q += 8 // creation order
          if ((lf & 0x10) != 0) q += 1 // charset
          val lenSz = 1 << (lf & 0x03)
          val nameLen = leN(bytes, q, lenSz)
          q += lenSz
          if (nameLen <= 0 || nameLen > 255 || q + nameLen + 8 > bytes.length) return None
          val name = new String(bytes, q.toInt, nameLen.toInt, "UTF-8")
          q += nameLen
          val objAt = le64(bytes, q)
          if (objAt <= 0) return None
          entries += ((name, objAt))
        }
        if (entries.isEmpty) return None
        // v0's b-tree yields names alphabetically; match that order
        val sorted = entries.sortBy(_._1)
        entries.clear()
        entries ++= sorted
    }

    // ---- per-dataset decode
    var totalElems = 0L
    val out = entries.toSeq.map { case (name, objAt) =>
      val msgs = messages(objAt).getOrElse(return None)
      // dataspace v1 (version, rank, flags, 5 reserved, dims) or v2
      // (version, rank, flags, type, dims); maxdims skipped in both
      val (shape: Seq[Long]) = msgs.find(_._1 == 0x0001) match {
        case Some((_, b, _)) =>
          val ver = u8(bytes, b)
          val rank = u8(bytes, b + 1)
          if (rank > 8) return None
          val dimsAt = ver match {
            case 1 => b + 8
            case 2 => b + 4
            case _ => return None
          }
          (0 until rank).map(d => le64(bytes, dimsAt + 8L * d))
        case None => return None
      }
      if (shape.exists(_ < 0)) return None
      // datatype: class 0 fixed / class 1 float, LE scalar
      val dtype: String = msgs.find(_._1 == 0x0003) match {
        case Some((_, b, _)) =>
          val clsVer = u8(bytes, b)
          val cls = clsVer & 0x0f
          val bits0 = u8(bytes, b + 1)
          val size = le32(bytes, b + 4)
          if ((bits0 & 0x01) != 0) return None // big-endian out of envelope
          (cls, size) match {
            case (1, 4L) => "f4"
            case (1, 8L) => "f8"
            case (0, sz) if sz == 1L || sz == 2L || sz == 4L || sz == 8L =>
              (if ((bits0 & 0x08) != 0) "i" else "u") + sz
            case _ => return None
          }
        case None => return None
      }
      // overflow-safe product: attacker-controlled u64 dims could wrap a
      // plain shape.product past the MaxElements gate
      var nElems = 1L
      for (d <- shape) {
        if (d < 0 || (d > 0 && nElems > MaxElements / d)) return None
        nElems *= d
      }
      totalElems += nElems
      if (totalElems > MaxElements) return None
      val width = dtype.substring(1).toInt

      // filter pipeline (0x000B): absent, or exactly one deflate filter
      // pipeline v1, filters in APPLICATION order — any subset of
      // {shuffle (2), deflate (1)}, each at most once (covers the
      // common h5py shapes compression="gzip" and shuffle=True,
      // compression="gzip"); anything else refused
      val filters: List[Int] = msgs.find(_._1 == 0x000b) match {
        case None => Nil
        case Some((_, b, _)) =>
          if (u8(bytes, b) != 1) return None // pipeline v2+ out of envelope
          val nf = u8(bytes, b + 1)
          if (nf < 1 || nf > 2) return None
          var fs = List.empty[Int]
          var q = b + 8
          var k = 0
          while (k < nf) {
            val fid = le16(bytes, q)
            if (fid != 1 && fid != 2) return None // deflate/shuffle only
            if (le16(bytes, q + 2) != 0) return None // named filters out of envelope
            val nvals = le16(bytes, q + 6)
            if (nvals > 8) return None
            fs = fs :+ fid
            q += 8 + 4L * nvals + (if (nvals % 2 == 1) 4L else 0L)
            k += 1
          }
          if (fs.distinct.size != fs.size) return None
          fs
      }

      // layout v3 (class 1 contiguous / class 2 chunked + v1 B-tree)
      // or v4 (class 2 chunked with single-chunk / implicit /
      // fixed-array indexes — the libver='latest' chunked world)
      val raw: Array[Byte] = msgs.find(_._1 == 0x0008) match {
        case None => return None
        case Some((_, b, _)) => u8(bytes, b) match {
          case 3 => u8(bytes, b + 1) match {
            case 1 => // contiguous: address + size
              if (filters.nonEmpty) return None // filters need chunked layout
              val dataAt = le64(bytes, b + 2); val dataSize = le64(bytes, b + 10)
              if (nElems * width != dataSize) return None
              if (dataAt < 0 || dataAt + dataSize > bytes.length) return None
              java.util.Arrays.copyOfRange(bytes, dataAt.toInt, (dataAt + dataSize).toInt)
            case 2 => // chunked: dimensionality, B-tree address, chunk dims
              val dimy = u8(bytes, b + 2)
              val rank = shape.size
              if (dimy != rank + 1) return None
              val btreeAt = le64(bytes, b + 3)
              val chunkDims = (0 until rank).map(d => le32(bytes, b + 11 + 4L * d))
              if (le32(bytes, b + 11 + 4L * rank) != width) return None
              if (chunkDims.exists(d => d <= 0 || d > (1 << 24))) return None
              val chunkElems = chunkDims.product
              if (chunkElems <= 0 || chunkElems > MaxElements) return None
              readChunked(bytes, btreeAt, shape, chunkDims, width.toInt,
                filters).getOrElse(return None)
            case _ => return None // compact (0) out of envelope
          }
          case 4 =>
            if (u8(bytes, b + 1) != 2) return None // v4 is chunked-only here
            // flags(1), dimensionality(1), dim-size-encoded-length(1),
            // dims (rank+1, last = element size), index type, info
            val dimy = u8(bytes, b + 3)
            val rank = shape.size
            if (dimy != rank + 1) return None
            val encLen = u8(bytes, b + 4)
            if (encLen < 1 || encLen > 8) return None
            def dimAt(i: Int): Long = leN(bytes, b + 5 + i.toLong * encLen, encLen)
            val chunkDims = (0 until rank).map(dimAt(_))
            if (dimAt(rank) != width) return None
            if (chunkDims.exists(d => d <= 0 || d > (1 << 24))) return None
            val chunkElems = chunkDims.product
            if (chunkElems <= 0 || chunkElems > MaxElements) return None
            val infoAt = b + 5 + encLen.toLong * (rank + 1)
            readChunkedV4(bytes, infoAt, shape, chunkDims, width.toInt,
              filters).getOrElse(return None)
          case _ => return None // layout v1/v2 out of envelope
        }
      }

      val values = new Array[Double](nElems.toInt)
      var k = 0
      while (k < values.length) {
        val o = k * width
        values(k) = dtype match {
          case "f4" => java.lang.Float.intBitsToFloat(le32(raw, o).toInt).toDouble
          case "f8" => java.lang.Double.longBitsToDouble(le64(raw, o))
          case "i1" => raw(o).toDouble
          case "u1" => u8(raw, o).toDouble
          case "i2" => le16(raw, o).toShort.toDouble
          case "u2" => le16(raw, o).toDouble
          case "i4" => le32(raw, o).toInt.toDouble
          case "u4" => le32(raw, o).toDouble
          case "i8" => le64(raw, o).toDouble
          case "u8" => le64(raw, o).toDouble // ≥2^63 widens like numpy→float
        }
        k += 1
      }
      H5Dataset(name, shape, dtype, values)
    }
    Some(out)
  }
  /** Shared chunk assembly: scatter a stream of chunk descriptors
    * (grid offsets, stored address/size, per-chunk filter mask) into
    * the dataset's raw little-endian buffer, inverting the filter
    * pipeline per chunk. Used by every chunk-index flavor (v1 B-tree,
    * layout-v4 single-chunk / implicit / fixed-array). */
  private final class ChunkAssembler(bytes: Array[Byte], shape: Seq[Long],
      chunkDims: Seq[Long], width: Int, filters: Seq[Int]) {
    val rank: Int = shape.size
    // chunks larger than the dataset are not a layout any writer
    // produces — refusing them bounds scatter work by the dataset size
    val valid: Boolean =
      !(0 until rank).exists(d => chunkDims(d) > math.max(shape(d), 1L)) &&
        shape.product <= Int.MaxValue / width
    val gridChunks: Long =
      if (!valid) 0L
      else (0 until rank).map(d => (shape(d) + chunkDims(d) - 1) / chunkDims(d)).product
    val raw: Array[Byte] =
      if (!valid) Array.emptyByteArray
      else new Array[Byte](shape.product.toInt * width)
    private def strides(dims: Seq[Long]): Array[Long] = {
      val s = new Array[Long](dims.size)
      var acc = 1L
      var d = dims.size - 1
      while (d >= 0) { s(d) = acc; acc *= dims(d); d -= 1 }
      s
    }
    private val dStr = strides(shape)
    private val cStr = strides(chunkDims)
    val chunkElems: Int = chunkDims.product.toInt
    val fullChunkBytes: Int = chunkElems * width
    // one inflater for every chunk, reset per chunk; the assembler's
    // owner ends it
    private val inf = Compression.inflater()
    def end(): Unit = inf.end()

    /** Byte-unshuffle: stored layout groups byte j of every element
      * together (out(i*w + j) = in(j*n + i)). Length-preserving. */
    private def unshuffle(in: Array[Byte]): Array[Byte] = {
      val n = chunkElems
      val out = new Array[Byte](in.length)
      var j = 0
      while (j < width) {
        val base = j * n
        var i = 0
        while (i < n) { out(i * width + j) = in(base + i); i += 1 }
        j += 1
      }
      out
    }

    /** Decode one chunk through the (unskipped) inverse filters and
      * scatter its in-bounds elements. */
    def chunkEntry(offs: Array[Long], childAt: Long, nbytes: Long,
        mask: Long): Boolean = {
      if (offs.exists(_ < 0)) return false
      if (nbytes <= 0 || childAt < 0 || childAt + nbytes > bytes.length) return false

      var data: Array[Byte] = null // lazily materialized stored bytes
      // invert filters in reverse application order; mask bit i set
      // means filter i was SKIPPED for this chunk
      var fi = filters.size - 1
      while (fi >= 0) {
        if (((mask >> fi) & 1L) == 0L) {
          filters(fi) match {
            case 1 => // deflate: the stream must end at exactly the full chunk size
              if (data != null) return false // deflate must see stored bytes
              data = Compression.inflate(inf, bytes, childAt.toInt, nbytes.toInt,
                fullChunkBytes, exact = true).getOrElse(return false)
            case 2 => // byte shuffle
              if (data == null) {
                if (nbytes != fullChunkBytes) return false
                data = java.util.Arrays.copyOfRange(
                  bytes, childAt.toInt, (childAt + nbytes).toInt)
              }
              data = unshuffle(data)
            case _ => return false
          }
        }
        fi -= 1
      }
      if (data == null) {
        if (nbytes != fullChunkBytes) return false
        data = java.util.Arrays.copyOfRange(
          bytes, childAt.toInt, (childAt + nbytes).toInt)
      }
      if (data.length != fullChunkBytes) return false

      // scatter in-bounds elements into the dataset's raw buffer
      var ci = 0
      while (ci < chunkElems) {
        var flat = 0L
        var oob = false
        var d = 0
        while (d < rank && !oob) {
          val coord = (ci / cStr(d)) % chunkDims(d) + offs(d)
          if (coord >= shape(d)) oob = true else flat += coord * dStr(d)
          d += 1
        }
        if (!oob)
          System.arraycopy(data, ci * width, raw, flat.toInt * width, width)
        ci += 1
      }
      true
    }

    /** Grid offsets of chunk `i` in row-major chunk-grid order (the
      * layout-v4 implicit/fixed-array element order). */
    def gridOffsets(i: Long): Array[Long] = {
      val out = new Array[Long](rank)
      var rem = i
      var d = rank - 1
      while (d >= 0) {
        val g = (shape(d) + chunkDims(d) - 1) / chunkDims(d)
        out(d) = (rem % g) * chunkDims(d)
        rem /= g
        d -= 1
      }
      out
    }
  }

  /** Assemble a chunked dataset's raw little-endian element bytes from
    * its v1 chunk B-tree — leaf nodes directly, or INTERNAL nodes
    * (level > 0) walked recursively with a depth cap of 8 and a
    * global node/chunk budget bounded by the chunk grid, so a hostile
    * pointer graph can't explode the walk. */
  /** Dense link storage: FRHP fractal heap (managed objects are v1
    * link messages; doubling-table direct blocks, root either a
    * single direct block or an FHIB indirect block of direct
    * children) enumerated through the name-index v2 B-tree (type 5
    * records: 4-byte name hash + managed heap ID, walked at any depth
    * with the same H5B2 node_info sizing as the chunk-index walker).
    * Envelope refusals, matching the rest of the codec: filtered
    * heaps, huge/tiny heap IDs (objects past the managed ceiling),
    * and indirect-over-indirect rows (heaps past ~10k links at
    * default creation parameters) return None. */
  private def denseLinks(
      bytes: Array[Byte], fheapAt: Long, btAt: Long): Option[Seq[(String, Long)]] = {
    def sig4(o: Long, s: String): Boolean =
      u8(bytes, o) == s.charAt(0) && u8(bytes, o + 1) == s.charAt(1) &&
        u8(bytes, o + 2) == s.charAt(2) && u8(bytes, o + 3) == s.charAt(3)
    def encSize(x: Long): Int = {
      var n = 1
      while (n < 8 && x >= (1L << (8 * n))) n += 1
      n
    }

    // ---- FRHP header
    if (fheapAt < 0 || fheapAt + 146 > bytes.length) return None
    if (!sig4(fheapAt, "FRHP") || u8(bytes, fheapAt + 4) != 0) return None
    val heapIdLen = le16(bytes, fheapAt + 5)
    val ioFilterLen = le16(bytes, fheapAt + 7)
    if (ioFilterLen != 0) return None // filtered heap: out of envelope
    val maxManaged = le32(bytes, fheapAt + 10)
    val nManaged = le64(bytes, fheapAt + 70)
    val nHuge = le64(bytes, fheapAt + 86)
    val nTiny = le64(bytes, fheapAt + 102)
    if (nHuge != 0 || nTiny != 0) return None
    if (nManaged < 0 || nManaged > 100000) return None
    val tblWidth = le16(bytes, fheapAt + 110)
    val startSize = le64(bytes, fheapAt + 112)
    val maxDirect = le64(bytes, fheapAt + 120)
    val maxHeapBits = le16(bytes, fheapAt + 128)
    val rootAddr = le64(bytes, fheapAt + 132)
    val curRows = le16(bytes, fheapAt + 140)
    if (tblWidth < 1 || tblWidth > 1024) return None
    if (startSize < 16 || startSize > (1L << 30) ||
        java.lang.Long.bitCount(startSize) != 1) return None
    if (maxDirect < startSize || maxDirect > (1L << 30) ||
        java.lang.Long.bitCount(maxDirect) != 1) return None
    if (maxHeapBits < 8 || maxHeapBits > 64) return None
    if (rootAddr == Undef) return None
    val offBytes = (maxHeapBits + 7) / 8
    val lenBytes = encSize(maxManaged)
    if (heapIdLen != 1 + offBytes + lenBytes) return None
    def log2(x: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val maxDirectRows = log2(maxDirect) - log2(startSize) + 2

    // doubling-table row geometry: rows 0 and 1 are startSize, row
    // r>=2 is startSize<<(r-1); row r starts at heap offset
    // width * (sum of earlier row block sizes)
    def rowSize(r: Int): Long = if (r < 2) startSize else startSize << (r - 1)
    def rowStart(r: Int): Long = {
      var s = 0L; var i = 0
      while (i < r) { s += tblWidth * rowSize(i); i += 1 }
      s
    }

    /** heap-space offset → file position of that byte (within a
      * direct block), or None past the written envelope. */
    def filePos(off: Long, len: Long): Option[Long] = {
      if (off < 0 || len <= 0) return None
      if (curRows == 0) {
        // root IS a single direct block of startSize
        if (off + len > startSize) return None
        if (!sig4(rootAddr, "FHDB")) return None
        Some(rootAddr + off)
      } else {
        if (!sig4(rootAddr, "FHIB")) return None
        var r = 0
        while (r < maxDirectRows && off >= rowStart(r) + tblWidth * rowSize(r))
          r += 1
        if (r >= maxDirectRows || r >= curRows) return None // indirect child rows: out of envelope
        val col = ((off - rowStart(r)) / rowSize(r)).toInt
        val blockStart = rowStart(r) + col.toLong * rowSize(r)
        if (off + len > blockStart + rowSize(r)) return None
        val childAt = rootAddr + 4 + 1 + 8 + offBytes + (r.toLong * tblWidth + col) * 8
        val child = le64(bytes, childAt)
        if (child == Undef) return None
        if (!sig4(child, "FHDB")) return None
        Some(child + (off - blockStart))
      }
    }

    /** v1 link message body at a resolved heap object. */
    def linkAt(at: Long, len: Long): Option[(String, Long)] = {
      val end = at + len
      if (end > bytes.length) return None
      if (u8(bytes, at) != 1) return None
      val lf = u8(bytes, at + 1)
      var q = at + 2
      val ltype = if ((lf & 0x08) != 0) { val v = u8(bytes, q); q += 1; v } else 0
      if (ltype != 0) return None // hard links only
      if ((lf & 0x04) != 0) q += 8 // creation order
      if ((lf & 0x10) != 0) q += 1 // charset
      val lenSz = 1 << (lf & 0x03)
      val nameLen = leN(bytes, q, lenSz)
      q += lenSz
      if (nameLen <= 0 || nameLen > 255 || q + nameLen + 8 > end) return None
      val name = new String(bytes, q.toInt, nameLen.toInt, "UTF-8")
      val objAt = le64(bytes, q + nameLen)
      if (objAt <= 0) return None
      Some((name, objAt))
    }

    /** One type-5 record: skip the 4-byte hash, resolve the managed
      * heap ID. */
    val found = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def rec(at: Long): Boolean = {
      val id0 = u8(bytes, at + 4)
      if ((id0 >>> 6) != 0) return false      // heap ID version
      if (((id0 >>> 4) & 3) != 0) return false // managed only (no huge/tiny)
      val off = leN(bytes, at + 5, offBytes)
      val len = leN(bytes, at + 5 + offBytes, lenBytes)
      if (len > maxManaged) return false
      val fp = filePos(off, len).getOrElse(return false)
      val lk = linkAt(fp, len).getOrElse(return false)
      found += lk
      true
    }

    // ---- name-index v2 B-tree (same traversal discipline as the
    // chunk-index walker; record type 5, record payload = hash + id)
    if (btAt < 0 || btAt + 38 > bytes.length) return None
    if (!sig4(btAt, "BTHD") || u8(bytes, btAt + 4) != 0) return None
    if (u8(bytes, btAt + 5) != 5) return None // link-name records
    val nodeSize = le32(bytes, btAt + 6)
    val recSize = le16(bytes, btAt + 10)
    val depth = le16(bytes, btAt + 12)
    val rootNAddr = le64(bytes, btAt + 16)
    val rootNrec = le16(bytes, btAt + 24)
    if (recSize != 4 + heapIdLen) return None
    if (depth > 8) return None
    if (nodeSize < 10 + recSize || nodeSize > (1L << 26)) return None
    val maxLeaf = ((nodeSize - 10) / recSize).toInt
    val nrecSz = encSize(maxLeaf)
    val cum = new Array[Long](depth + 1)
    val cumSz = new Array[Int](depth + 1)
    val maxInt = new Array[Int](depth + 1)
    cum(0) = maxLeaf; cumSz(0) = encSize(maxLeaf)
    var lvl = 1
    while (lvl <= depth) {
      val psz = 8 + nrecSz + (if (lvl - 1 >= 1) cumSz(lvl - 1) else 0)
      if (nodeSize < 10 + psz + recSize + psz) return None
      maxInt(lvl) = ((nodeSize - 10 - psz) / (recSize + psz)).toInt
      val c = maxInt(lvl).toLong + (maxInt(lvl).toLong + 1) * cum(lvl - 1)
      if (cum(lvl - 1) > 0 && c / (maxInt(lvl) + 1) < cum(lvl - 1)) return None
      cum(lvl) = c; cumSz(lvl) = encSize(c)
      lvl += 1
    }
    var recBudget = nManaged
    def readNode(at: Long, d: Int, nrec: Int): Boolean = {
      if (at < 0 || nrec < 0) return false
      recBudget -= nrec
      if (recBudget < 0) return false
      if (d == 0) {
        if (nrec > maxLeaf) return false
        if (at + 6 + nrec.toLong * recSize + 4 > bytes.length) return false
        if (!sig4(at, "BTLF")) return false
        if (u8(bytes, at + 4) != 0 || u8(bytes, at + 5) != 5) return false
        var i = 0
        while (i < nrec) {
          if (!rec(at + 6 + i.toLong * recSize)) return false
          i += 1
        }
        true
      } else {
        if (nrec > maxInt(d)) return false
        val psz = 8 + nrecSz + (if (d - 1 >= 1) cumSz(d - 1) else 0)
        val recsAt = at + 6
        val ptrsAt = recsAt + nrec.toLong * recSize
        if (ptrsAt + (nrec + 1).toLong * psz + 4 > bytes.length) return false
        if (!sig4(at, "BTIN")) return false
        if (u8(bytes, at + 4) != 0 || u8(bytes, at + 5) != 5) return false
        var i = 0
        while (i < nrec) {
          if (!rec(recsAt + i.toLong * recSize)) return false
          i += 1
        }
        var c = 0
        while (c <= nrec) {
          val pAt = ptrsAt + c.toLong * psz
          if (!readNode(le64(bytes, pAt), d - 1, leN(bytes, pAt + 8, nrecSz).toInt))
            return false
          c += 1
        }
        true
      }
    }
    if (!readNode(rootNAddr, depth, rootNrec)) return None
    if (found.isEmpty || found.size.toLong != nManaged) return None
    Some(found.toSeq)
  }

  private def readChunked(bytes: Array[Byte], btreeAt: Long, shape: Seq[Long],
      chunkDims: Seq[Long], width: Int, filters: Seq[Int]): Option[Array[Byte]] = {
    val asm = new ChunkAssembler(bytes, shape, chunkDims, width, filters)
    try assembleChunked(asm, bytes, btreeAt) finally asm.end()
  }

  private def assembleChunked(asm: ChunkAssembler, bytes: Array[Byte],
      btreeAt: Long): Option[Array[Byte]] = {
    if (!asm.valid) return None
    val rank = asm.rank
    val keySize = 8 + 8 * (rank + 1)

    // recursive node walk; the budgets make the worst hostile pointer
    // graph cost O(gridChunks + nodes) rather than exponential
    var chunksSeen = 0L
    var nodesSeen = 0L
    def walk(nodeAt: Long, depth: Int): Boolean = {
      if (depth > 8) return false
      nodesSeen += 1
      if (nodesSeen > 4096) return false
      if (!(u8(bytes, nodeAt) == 'T' && u8(bytes, nodeAt + 1) == 'R' &&
            u8(bytes, nodeAt + 2) == 'E' && u8(bytes, nodeAt + 3) == 'E')) return false
      if (u8(bytes, nodeAt + 4) != 1) return false // node type 1 = raw data chunks
      val level = u8(bytes, nodeAt + 5)
      val n = le16(bytes, nodeAt + 6)
      if (n > 4096) return false
      var i = 0
      while (i < n) {
        val kAt = nodeAt + 24 + i.toLong * (keySize + 8)
        if (level == 0) {
          chunksSeen += 1
          if (chunksSeen > asm.gridChunks) return false
          val nbytes = le32(bytes, kAt)
          val mask = le32(bytes, kAt + 4)
          val offs = Array.tabulate(rank)(d => le64(bytes, kAt + 8 + 8L * d))
          val childAt = le64(bytes, kAt + keySize)
          if (!asm.chunkEntry(offs, childAt, nbytes, mask)) return false
        } else {
          val childAt = le64(bytes, kAt + keySize)
          if (childAt < 0) return false
          if (!walk(childAt, depth + 1)) return false
        }
        i += 1
      }
      true
    }
    if (!walk(btreeAt, 0)) None else Some(asm.raw)
  }

  /** Layout-v4 chunk indexes (the h5py libver='latest' chunked world):
    * Single Chunk (type 1), Implicit (type 2 — contiguous full chunks
    * in row-major grid order, unfiltered), Fixed Array
    * (type 3 — FAHD header + FADB data block, unpaged or PAGED with
    * a page bitmap and per-page checksummed element pages; filtered
    * elements carry address + stored size + per-chunk filter mask),
    * and unpaged
    * Extensible Array (type 4 — EAHD header, EAIB index block holding
    * the first elements + the first super blocks' data-block
    * addresses, EASB secondary blocks for deeper super blocks, EADB
    * data blocks; the H5EA doubling: super block u carries 2^(u/2)
    * data blocks of min_elmts·2^((u+1)/2) elements), and v2 B-trees
    * at ANY depth (type 5 — BTHD header, BTIN internal nodes whose
    * separator records are real chunk records and whose child
    * pointers carry nrec + cumulative counts per the H5B2 node_info
    * sizing, BTLF leaves; records carry scaled grid offsets;
    * budget-bounded recursion). `infoAt` points at the
    * indexing-type byte inside the layout message. */
  private def readChunkedV4(bytes: Array[Byte], infoAt: Long, shape: Seq[Long],
      chunkDims: Seq[Long], width: Int, filters: Seq[Int]): Option[Array[Byte]] = {
    val asm = new ChunkAssembler(bytes, shape, chunkDims, width, filters)
    try assembleChunkedV4(asm, bytes, infoAt, shape, chunkDims, filters) finally asm.end()
  }

  private def assembleChunkedV4(asm: ChunkAssembler, bytes: Array[Byte], infoAt: Long,
      shape: Seq[Long], chunkDims: Seq[Long], filters: Seq[Int]): Option[Array[Byte]] = {
    if (!asm.valid) return None
    if (asm.gridChunks > (1 << 20)) return None

    val idxType = u8(bytes, infoAt)
    idxType match {
      case 1 => // single chunk covering the whole (padded) dataset
        if (asm.gridChunks != 1) return None
        var q = infoAt + 1
        val (nbytes, mask) =
          if (filters.nonEmpty) {
            val sz = le64(bytes, q); val m = le32(bytes, q + 8); q += 12
            (sz, m)
          } else (asm.fullChunkBytes.toLong, 0L)
        val addr = le64(bytes, q)
        if (!asm.chunkEntry(new Array[Long](shape.size), addr, nbytes, mask))
          None
        else Some(asm.raw)
      case 2 => // implicit: full unfiltered chunks, contiguous, grid order
        if (filters.nonEmpty) return None
        val base = le64(bytes, infoAt + 1)
        if (base < 0) return None
        var i = 0L
        while (i < asm.gridChunks) {
          if (!asm.chunkEntry(asm.gridOffsets(i),
              base + i * asm.fullChunkBytes, asm.fullChunkBytes.toLong, 0L))
            return None
          i += 1
        }
        Some(asm.raw)
      case 3 => // fixed array, unpaged
        // indexing info: page bits (1 byte), then the FAHD address
        val fahd = le64(bytes, infoAt + 2)
        if (fahd < 0) return None
        if (!(u8(bytes, fahd) == 'F' && u8(bytes, fahd + 1) == 'A' &&
              u8(bytes, fahd + 2) == 'H' && u8(bytes, fahd + 3) == 'D')) return None
        if (u8(bytes, fahd + 4) != 0) return None // FA version 0
        val clientId = u8(bytes, fahd + 5)
        if (clientId != 0 && clientId != 1) return None
        if ((clientId == 1) != filters.nonEmpty) return None
        val entrySize = u8(bytes, fahd + 6)
        val pageBits = u8(bytes, fahd + 7)
        val maxN = le64(bytes, fahd + 8)
        val fadb = le64(bytes, fahd + 16)
        if (maxN != asm.gridChunks) return None
        if (pageBits < 1 || pageBits > 20) return None
        if (fadb < 0) return None
        if (!(u8(bytes, fadb) == 'F' && u8(bytes, fadb + 1) == 'A' &&
              u8(bytes, fadb + 2) == 'D' && u8(bytes, fadb + 3) == 'B')) return None
        if (u8(bytes, fadb + 4) != 0 || u8(bytes, fadb + 5) != clientId) return None
        val szBytes = entrySize - 12 // filtered: addr(8) + size + mask(4)
        if (clientId == 1 && (szBytes < 1 || szBytes > 8)) return None
        if (clientId == 0 && entrySize != 8) return None
        // one element, global grid index gi; each element array is
        // bounds-checked whole before its loop, so a truncated array
        // refuses before any chunk is placed
        def faElem(eAt: Long, gi: Long): Boolean = {
          val addr = le64(bytes, eAt)
          if (addr == Undef) return true // unallocated chunk
          val (nbytes, mask) =
            if (clientId == 1) (leN(bytes, eAt + 8, szBytes), le32(bytes, eAt + 8 + szBytes))
            else (asm.fullChunkBytes.toLong, 0L)
          asm.chunkEntry(asm.gridOffsets(gi), addr, nbytes, mask)
        }
        val pageElems = 1L << pageBits
        if (maxN <= pageElems) {
          // unpaged: the element array lives inline after the header
          // address, then the block checksum
          val elems = fadb + 14
          if (elems + maxN * entrySize + 4 > bytes.length) return None
          var i = 0L
          while (i < maxN) {
            if (!faElem(elems + i * entrySize, i)) return None
            i += 1
          }
        } else {
          // PAGED (any dataset past 2^page-bits chunks — the normal
          // case at scale): the FADB holds only a page bitmap (bit p
          // set = page initialized) + its checksum; element pages
          // follow contiguously, each page carrying its own checksum
          val npages = (maxN + pageElems - 1) >> pageBits
          val bmLen = (npages + 7) / 8
          val bitmapAt = fadb + 14
          val pagesAt = bitmapAt + bmLen + 4
          if (pagesAt + maxN * entrySize + 4L * npages > bytes.length)
            return None
          var p = 0L
          var gi = 0L
          var at = pagesAt
          while (p < npages) {
            val inPage = math.min(pageElems, maxN - gi)
            val initialized =
              ((u8(bytes, bitmapAt + p / 8) >> (p % 8).toInt) & 1) == 1
            if (initialized) {
              var t = 0L
              while (t < inPage) {
                if (!faElem(at + t * entrySize, gi + t)) return None
                t += 1
              }
            } // uninitialized page: every chunk in it is unallocated
            at += inPage * entrySize + 4
            gi += inPage
            p += 1
          }
        }
        Some(asm.raw)
      case 4 => // extensible array (the h5py maxshape/resizable world)
        // EAHD header (layout info bytes are the same creation params;
        // the header is authoritative): element size, max-nelmts bits,
        // index-block elmts, data-block min elmts, super-block min
        // data ptrs, max data-block-page nelmts bits
        val eahd = le64(bytes, infoAt + 6)
        if (eahd < 0 || eahd + 72 > bytes.length) return None
        if (!(u8(bytes, eahd) == 'E' && u8(bytes, eahd + 1) == 'A' &&
              u8(bytes, eahd + 2) == 'H' && u8(bytes, eahd + 3) == 'D')) return None
        if (u8(bytes, eahd + 4) != 0) return None // EA version 0
        val clientId = u8(bytes, eahd + 5)
        if (clientId != 0 && clientId != 1) return None
        if ((clientId == 1) != filters.nonEmpty) return None
        val elmtSize = u8(bytes, eahd + 6)
        val maxBits = u8(bytes, eahd + 7)
        val idxElmts = u8(bytes, eahd + 8)
        val minElmts = u8(bytes, eahd + 9)
        val minPtrs = u8(bytes, eahd + 10)
        val pgBits = u8(bytes, eahd + 11)
        // the doubling math requires power-of-two knobs (the library
        // enforces the same at creation)
        if (maxBits < 1 || maxBits > 64) return None
        if (minElmts < 1 || (minElmts & (minElmts - 1)) != 0) return None
        if (minPtrs < 2 || (minPtrs & (minPtrs - 1)) != 0) return None
        val offSz = (maxBits + 7) / 8
        val szBytes = elmtSize - 12 // filtered: addr(8) + size + mask(4)
        if (clientId == 1 && (szBytes < 1 || szBytes > 8)) return None
        if (clientId == 0 && elmtSize != 8) return None
        def log2(x: Int) = 31 - Integer.numberOfLeadingZeros(x)
        val nsblks = 2 * (maxBits - log2(minElmts))
        val iblkSblks = 2 * log2(minPtrs)
        val ndblkAddrs = 2 * (minPtrs - 1)
        val nsblkAddrs = nsblks - iblkSblks
        if (nsblkAddrs < 0) return None
        // super block u: 2^(u/2) data blocks of minElmts·2^((u+1)/2)
        // elements (H5EAhdr doubling)
        def sNdblks(u: Int): Long = 1L << (u / 2)
        def sDnel(u: Int): Long = minElmts.toLong << ((u + 1) / 2)

        // one chunk-index element; gi = global grid index
        def elemEntry(at: Long, gi: Long): Boolean = {
          val addr = le64(bytes, at)
          if (addr == Undef) return true // unallocated chunk
          val (nb, mask) =
            if (clientId == 1) (leN(bytes, at + 8, szBytes), le32(bytes, at + 8 + szBytes))
            else (asm.fullChunkBytes.toLong, 0L)
          asm.chunkEntry(asm.gridOffsets(gi), addr, nb, mask)
        }
        val pageElems = 1L << math.min(pgBits, 62)
        // data block (UNPAGED): prefix + block offset, then dnel
        // elements whose grid indexes start at idxElmts + startElem.
        // Whole element array bounds-checked BEFORE reading (the
        // fixed-array rule). A PAGED block reached from the INDEX
        // block carries no page-init bitmap anywhere on disk (the
        // library's doubling math keeps index-block data blocks
        // unpaged under its own creation invariant
        // min_elmts*min_ptrs <= 2^page_bits), so when the creation
        // knobs force one, liveness degrades to the grid bound: a
        // page whose first element index is inside the chunk grid is
        // read, one wholly past it is never touched.
        def readDblk(at: Long, startElem: Long, dnel: Long): Boolean = {
          if (dnel > pageElems) // paged off the index block: no bitmap
            return readPagedDblk(at, startElem, dnel, -1L)
          if (!(u8(bytes, at) == 'E' && u8(bytes, at + 1) == 'A' &&
                u8(bytes, at + 2) == 'D' && u8(bytes, at + 3) == 'B')) return false
          if (u8(bytes, at + 4) != 0 || u8(bytes, at + 5) != clientId) return false
          val eAt = at + 6 + 8 + offSz // header addr + block offset
          if (eAt + dnel * elmtSize + 4 > bytes.length) return false
          var t = 0L
          while (t < dnel) {
            val gi = idxElmts + startElem + t
            if (gi >= asm.gridChunks) return true // capacity past grid
            if (!elemEntry(eAt + t * elmtSize, gi)) return false
            t += 1
          }
          true
        }
        // data block (PAGED — dnel past 2^pgBits, i.e. any dataset
        // past ~65k chunks at the library's default creation params):
        // the block itself is prefix + checksum only; element PAGES
        // (each pageElems elements + own checksum) follow contiguously.
        // Which pages are initialized lives in the OWNING super
        // block's per-data-block page-init bitmask (bmAt); an
        // uninitialized page's chunks are unallocated and its bytes
        // are never read. The full page span is bounds-checked before
        // any element is touched. bmAt < 0 = index-block-referenced
        // block with no bitmap: a page is live iff it starts inside
        // the chunk grid.
        def readPagedDblk(at: Long, startElem: Long, dnel: Long,
            bmAt: Long): Boolean = {
          if (!(u8(bytes, at) == 'E' && u8(bytes, at + 1) == 'A' &&
                u8(bytes, at + 2) == 'D' && u8(bytes, at + 3) == 'B')) return false
          if (u8(bytes, at + 4) != 0 || u8(bytes, at + 5) != clientId) return false
          val npages = dnel / pageElems // both powers of two: exact
          val pageLen = pageElems * elmtSize + 4
          val pagesAt = at + 6 + 8 + offSz + 4 // prefix + its checksum
          if (pagesAt + npages * pageLen > bytes.length) return false
          var p = 0L
          while (p < npages) {
            val init =
              if (bmAt < 0)
                idxElmts + startElem + p * pageElems < asm.gridChunks
              else (u8(bytes, bmAt + p / 8) >> (p % 8).toInt & 1) == 1
            // no bitmap exists for the index-block layout, so the
            // grid bound alone can't distinguish a written page from
            // junk — a genuinely uninitialized mid-grid page would
            // alias to garbage chunk addresses. The page's trailing
            // lookup3 checksum is the written-page witness: a
            // mismatch REFUSES the file instead of decoding junk.
            if (init && bmAt < 0 &&
                (lookup3(bytes, (pagesAt + p * pageLen).toInt,
                  (pageLen - 4).toInt).toLong & 0xffffffffL) !=
                  le32(bytes, pagesAt + (p + 1) * pageLen - 4)) return false
            if (init) {
              val eAt = pagesAt + p * pageLen
              var t = 0L
              while (t < pageElems) {
                val gi = idxElmts + startElem + p * pageElems + t
                if (gi >= asm.gridChunks) return true
                if (!elemEntry(eAt + t * elmtSize, gi)) return false
                t += 1
              }
            } // uninitialized page: every chunk in it is unallocated
            p += 1
          }
          true
        }
        // secondary block for super block u: prefix + block offset,
        // then — when this super block's data blocks are paged — one
        // page-init bitmask PER data block, then the data block
        // addresses
        def readSblk(at: Long, u: Int, startIdx: Long): Boolean = {
          if (!(u8(bytes, at) == 'E' && u8(bytes, at + 1) == 'A' &&
                u8(bytes, at + 2) == 'S' && u8(bytes, at + 3) == 'B')) return false
          if (u8(bytes, at + 4) != 0 || u8(bytes, at + 5) != clientId) return false
          val nd = sNdblks(u); val dn = sDnel(u)
          val paged = dn > pageElems
          val bmSize = if (paged) (dn / pageElems + 7) / 8 else 0L
          val bmAt0 = at + 6 + 8 + offSz
          val aAt = bmAt0 + nd * bmSize
          if (aAt + nd * 8 + 4 > bytes.length) return false
          var j = 0L
          while (j < nd) {
            val da = le64(bytes, aAt + j * 8)
            if (da != Undef) {
              val ok =
                if (paged) readPagedDblk(da, startIdx + j * dn, dn,
                  bmAt0 + j * bmSize)
                else readDblk(da, startIdx + j * dn, dn)
              if (!ok) return false
            }
            j += 1
          }
          true
        }

        // index block: direct elements, then the first iblkSblks super
        // blocks' data block addresses, then secondary block addresses
        val iblk = le64(bytes, eahd + 60)
        if (iblk < 0) return None
        if (!(u8(bytes, iblk) == 'E' && u8(bytes, iblk + 1) == 'A' &&
              u8(bytes, iblk + 2) == 'I' && u8(bytes, iblk + 3) == 'B')) return None
        if (u8(bytes, iblk + 4) != 0 || u8(bytes, iblk + 5) != clientId) return None
        val elemsAt = iblk + 6 + 8
        val dblkAddrsAt = elemsAt + idxElmts.toLong * elmtSize
        val sblkAddrsAt = dblkAddrsAt + ndblkAddrs.toLong * 8
        if (sblkAddrsAt + nsblkAddrs.toLong * 8 + 4 > bytes.length)
          return None
        var i = 0
        while (i < idxElmts && i < asm.gridChunks) {
          if (!elemEntry(elemsAt + i.toLong * elmtSize, i)) return None
          i += 1
        }
        var startIdx = 0L // element offset past the index-block elmts
        var slot = 0
        var u = 0
        while (u < iblkSblks && idxElmts + startIdx < asm.gridChunks) {
          val nd = sNdblks(u).toInt; val dn = sDnel(u)
          var j = 0
          while (j < nd) {
            val da = le64(bytes, dblkAddrsAt + slot.toLong * 8)
            if (da != Undef && !readDblk(da, startIdx + j.toLong * dn, dn))
              return None
            slot += 1; j += 1
          }
          startIdx += nd * dn
          u = u + 1
        }
        var s = 0
        while (s + iblkSblks < nsblks &&
               idxElmts + startIdx < asm.gridChunks) {
          val su = iblkSblks + s
          val sa = le64(bytes, sblkAddrsAt + s.toLong * 8)
          if (sa != Undef && !readSblk(sa, su, startIdx)) return None
          startIdx += sNdblks(su) * sDnel(su)
          s += 1
        }
        Some(asm.raw)
      case 5 => // v2 B-tree chunk index at ANY depth (budget-bounded;
        // h5py's index for >1 unlimited dimension). Unlike FA/EA, the
        // tree holds only WRITTEN chunks — records carry the chunk's
        // scaled (grid) offsets, so placement needs no capacity math.
        // layout info: node size (4), split % (1), merge % (1)
        val bthd = le64(bytes, infoAt + 7)
        if (bthd < 0 || bthd + 38 > bytes.length) return None
        if (!(u8(bytes, bthd) == 'B' && u8(bytes, bthd + 1) == 'T' &&
              u8(bytes, bthd + 2) == 'H' && u8(bytes, bthd + 3) == 'D')) return None
        if (u8(bytes, bthd + 4) != 0) return None // v2 B-tree version 0
        val btype = u8(bytes, bthd + 5) // record type: 10 raw / 11 filtered
        if (btype != 10 && btype != 11) return None
        if ((btype == 11) != filters.nonEmpty) return None
        val nodeSize = le32(bytes, bthd + 6)
        val recSize = le16(bytes, bthd + 10)
        val depth = le16(bytes, bthd + 12)
        val rootAddr = le64(bytes, bthd + 16)
        val rootNrec = le16(bytes, bthd + 24)
        val rank = shape.size
        val base = if (btype == 11) 12 + 8 * rank else 8 + 8 * rank
        val szChunk = recSize - base // filtered: encoded-chunk-size len
        if (btype == 11 && (szChunk < 1 || szChunk > 8)) return None
        if (btype == 10 && szChunk != 0) return None
        if (depth > 8) return None // hostile-depth backstop
        if (nodeSize < 10 + recSize || nodeSize > (1L << 26)) return None
        val maxLeaf = ((nodeSize - 10) / recSize).toInt
        // the record-count field in child pointers is sized to the
        // LEAF capacity (the largest — H5B2hdr max_nrec_size); the
        // cumulative-count field at level d is sized to that level's
        // maximum subtree record count (cum_max_nrec_size)
        def encSize(x: Long): Int = {
          var n = 1
          while (n < 8 && x >= (1L << (8 * n))) n += 1
          n
        }
        val nrecSz = encSize(maxLeaf)
        // per-level H5B2 capacity math (H5EAhdr-style doubling does
        // not apply here; these are the H5B2hdr node_info formulas)
        val cum = new Array[Long](depth + 1)
        val cumSz = new Array[Int](depth + 1)
        val maxInt = new Array[Int](depth + 1)
        cum(0) = maxLeaf; cumSz(0) = encSize(maxLeaf)
        var lvl = 1
        while (lvl <= depth) {
          val psz = 8 + nrecSz + (if (lvl - 1 >= 1) cumSz(lvl - 1) else 0)
          if (nodeSize < 10 + psz + recSize + psz) return None
          maxInt(lvl) = ((nodeSize - 10 - psz) / (recSize + psz)).toInt
          // overflow-guarded cumulative capacity
          val c = maxInt(lvl).toLong + (maxInt(lvl).toLong + 1) * cum(lvl - 1)
          if (cum(lvl - 1) > 0 && c / (maxInt(lvl) + 1) < cum(lvl - 1))
            return None // capacity overflow: refuse, don't wrap
          cum(lvl) = c; cumSz(lvl) = encSize(c)
          lvl += 1
        }

        def rec(at: Long): Boolean = {
          val addr = le64(bytes, at)
          var p = at + 8
          val (nb, mask) =
            if (btype == 11) {
              val s = leN(bytes, p, szChunk); val m = le32(bytes, p + szChunk)
              p += szChunk + 4
              (s, m)
            } else (asm.fullChunkBytes.toLong, 0L)
          val offs = new Array[Long](rank)
          var k = 0
          while (k < rank) {
            val scaled = le64(bytes, p + k * 8)
            if (scaled < 0) return false
            offs(k) = scaled * chunkDims(k)
            k += 1
          }
          asm.chunkEntry(offs, addr, nb, mask)
        }
        // recursive walk, budget-bounded: a hostile pointer graph can
        // place at most gridChunks records before refusal
        var recBudget = asm.gridChunks
        def readNode(at: Long, d: Int, nrec: Int): Boolean = {
          if (at < 0) return false
          if (nrec < 0) return false
          recBudget -= nrec
          if (recBudget < 0) return false
          if (d == 0) {
            if (nrec > maxLeaf) return false
            if (at + 6 + nrec.toLong * recSize + 4 > bytes.length)
              return false
            if (!(u8(bytes, at) == 'B' && u8(bytes, at + 1) == 'T' &&
                  u8(bytes, at + 2) == 'L' && u8(bytes, at + 3) == 'F')) return false
            if (u8(bytes, at + 4) != 0 || u8(bytes, at + 5) != btype) return false
            var i = 0
            while (i < nrec) {
              if (!rec(at + 6 + i.toLong * recSize)) return false
              i += 1
            }
            true
          } else {
            // internal node: records block, then nrec+1 child pointers
            // (child address + record count + cumulative count when
            // the child is itself internal), per H5B2cache order
            if (nrec > maxInt(d)) return false
            val psz = 8 + nrecSz + (if (d - 1 >= 1) cumSz(d - 1) else 0)
            val recsAt = at + 6
            val ptrsAt = recsAt + nrec.toLong * recSize
            if (ptrsAt + (nrec + 1).toLong * psz + 4 > bytes.length)
              return false
            if (!(u8(bytes, at) == 'B' && u8(bytes, at + 1) == 'T' &&
                  u8(bytes, at + 2) == 'I' && u8(bytes, at + 3) == 'N')) return false
            if (u8(bytes, at + 4) != 0 || u8(bytes, at + 5) != btype) return false
            var i = 0
            while (i < nrec) {
              if (!rec(recsAt + i.toLong * recSize)) return false
              i += 1
            }
            var c = 0
            while (c <= nrec) {
              val pAt = ptrsAt + c.toLong * psz
              val childAddr = le64(bytes, pAt)
              val childN = leN(bytes, pAt + 8, nrecSz)
              if (!readNode(childAddr, d - 1, childN.toInt)) return false
              c += 1
            }
            true
          }
        }
        if (!readNode(rootAddr, depth, rootNrec)) return None
        Some(asm.raw)
      case _ => None // paged variants / unknown index types
    }
  }
}
