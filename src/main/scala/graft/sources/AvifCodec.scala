package graft.sources

import Bytes._
import Mp4Codec.boxes

/** AVIF/HEIF metadata codec — AVIF is the fastest-growing web image
  * format and iPhones ship HEIC; both are ISO-BMFF `meta` files whose
  * first pass (dimensions, item table, byte extents, embedded EXIF)
  * needs no AV1/HEVC decoder — the [[Mp4Codec]] split, over the same
  * box grammar. Walk: ftyp, then the `meta` FULL box's children —
  * `pitm` (primary item), `iinf`/`infe` v2 (item ids + types),
  * `iloc` v0/v1/v2 (offset/length/base-offset size nibbles,
  * construction method 0 only, per-item extent lists), `iprp`:
  * `ipco` property boxes in 1-based index order (`ispe` width/height
  * read; others inventoried by position) and `ipma` associations —
  * the primary item's associated `ispe` becomes the canvas. Every
  * extent's byte span is bounds-checked and md5'd over the
  * concatenation (the ranged-fetch proof); an `Exif` item's payload
  * (u32 tiff-header offset, then the block) decodes through
  * [[ExifCodec.parseTiff]], surfacing GPS — image PII.
  *
  * Refusal contract ([[GzipCodec]] discipline): whole-file None on a
  * missing/invalid meta, pitm, iinf or iloc, a non-zero data
  * reference or construction method, an extent past EOF, counts over
  * [[MaxItems]]. Never throws. */
object AvifCodec {

  /** One metadata row: kind ∈ primary/canvas/item/extent_md5/
    * exif_gps. */
  case class Meta(kind: String, key: String, idx: Int, num: Long,
      sval: String)

  val MaxItems: Int = 4096

  def decode(bytes: Array[Byte]): Option[Vector[Meta]] =
    refusing(run(bytes))

  private def run(b: Array[Byte]): Vector[Meta] = {
    var primary = -1L
    val itemTypes = scala.collection.mutable.LinkedHashMap[Long, String]()
    val extents =
      scala.collection.mutable.LinkedHashMap[Long, Vector[(Long, Long)]]()
    val ispeDims = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    // (property index 1-based, w, h); non-ispe properties occupy slots
    val assoc = scala.collection.mutable.LinkedHashMap[Long, Vector[Int]]()
    var sawMeta = false

    def readMeta(mFrom: Long, mTo: Long): Unit = {
      sawMeta = true
      boxes(b, mFrom + 4, mTo) { (typ, at, end) => // meta is a FULL box
        typ match {
          case "pitm" =>
            val v = u8(b, at)
            primary = if (v == 0) be16(b, at + 4) else be32(b, at + 4)
          case "iinf" =>
            val v = u8(b, at)
            val n = if (v == 0) be16(b, at + 4).toLong else be32(b, at + 4)
            if (n > MaxItems) refuse()
            val start = at + (if (v == 0) 6 else 8)
            boxes(b, start, end) { (t2, a2, e2) =>
              if (t2 == "infe") {
                val iv = u8(b, a2)
                if (iv < 2) refuse() // v0/1: the pre-HEIF shape
                // v2 carries a u16 item id; v3+ widens it to u32
                // (ISO 14496-12 §8.11.6) and shifts item_type by 2
                val id = if (iv >= 3) be32(b, a2 + 4) else be16(b, a2 + 4).toLong
                itemTypes(id) = fourcc(b, a2 + (if (iv >= 3) 10 else 8))
              }
            }
          case "iloc" =>
            val v = u8(b, at)
            if (v > 2) refuse()
            val offSz = (u8(b, at + 4) >> 4) & 0xf
            val lenSz = u8(b, at + 4) & 0xf
            val baseSz = (u8(b, at + 5) >> 4) & 0xf
            val idxSz = if (v >= 1) u8(b, at + 5) & 0xf else 0
            if (!Set(0, 4, 8)(offSz) || !Set(0, 4, 8)(lenSz) ||
                !Set(0, 4, 8)(baseSz) || !Set(0, 4, 8)(idxSz)) refuse()
            var p = at + 6
            // offset/length/base fields are 0, 4 or 8 bytes wide; a
            // 0-byte field reads nothing
            def field(n: Int): Long = {
              val x = if (n == 0) 0L else beN(b, p, n)
              p += n
              x
            }
            val n = if (v < 2) { val x = be16(b, p); p += 2; x.toLong }
              else { val x = be32(b, p); p += 4; x }
            if (n > MaxItems) refuse()
            var i = 0L
            while (i < n) {
              val id = if (v < 2) { val x = be16(b, p); p += 2; x.toLong }
                else { val x = be32(b, p); p += 4; x }
              if (v >= 1) {
                val cm = be16(b, p) & 0xf; p += 2
                if (cm != 0) refuse() // idat/item construction: refuse
              }
              if (be16(b, p) != 0) refuse() // external data reference
              p += 2
              val base = field(baseSz)
              val ec = be16(b, p); p += 2
              if (ec > MaxItems) refuse()
              val exts = Vector.newBuilder[(Long, Long)]
              var e = 0
              while (e < ec) {
                if (idxSz > 0) p += idxSz
                val off = field(offSz)
                val ln = field(lenSz)
                val abs = base + off
                if (abs < 0 || ln < 0 || abs + ln > b.length) refuse()
                exts += ((abs, ln))
                e += 1
              }
              extents(id) = exts.result()
              i += 1
            }
          case "iprp" =>
            boxes(b, at, end) { (t2, a2, e2) =>
              t2 match {
                case "ipco" =>
                  var slot = 1L
                  boxes(b, a2, e2) { (t3, a3, _) =>
                    if (t3 == "ispe")
                      ispeDims += ((slot, be32(b, a3 + 4), be32(b, a3 + 8)))
                    slot += 1
                  }
                case "ipma" =>
                  val v = u8(b, a2)
                  val flags = be32(b, a2) & 0xffffff
                  val n = be32(b, a2 + 4)
                  if (n > MaxItems) refuse()
                  var p = a2 + 8
                  var i = 0L
                  while (i < n) {
                    val id = if (v < 1) { val x = be16(b, p); p += 2; x.toLong }
                      else { val x = be32(b, p); p += 4; x }
                    val cnt = u8(b, p); p += 1
                    val props = Vector.newBuilder[Int]
                    var k = 0
                    while (k < cnt) {
                      val pi =
                        if ((flags & 1) == 1) { val x = be16(b, p) & 0x7fff; p += 2; x }
                        else { val x = u8(b, p) & 0x7f; p += 1; x }
                      props += pi
                      k += 1
                    }
                    assoc(id) = props.result()
                    i += 1
                  }
                case _ => ()
              }
            }
          case _ => () // hdlr/idat/iref/…: inventoried elsewhere or skipped
        }
      }
    }

    boxes(b, 0L, b.length.toLong) { (typ, at, end) =>
      if (typ == "meta") readMeta(at, end)
    }
    if (!sawMeta || primary < 0 || itemTypes.isEmpty || extents.isEmpty)
      refuse()

    val out = Vector.newBuilder[Meta]
    out += Meta("primary", "item_id", 0, primary, null)
    // the primary item's associated ispe = the canvas
    for {
      props <- assoc.get(primary)
      (_, w, h) <- ispeDims.find(d => props.contains(d._1.toInt))
    } {
      out += Meta("canvas", "width", 0, w, null)
      out += Meta("canvas", "height", 0, h, null)
    }
    itemTypes.foreach { case (id, typ) =>
      val exts = extents.getOrElse(id, refuse())
      val total = exts.map(_._2).sum
      out += Meta("item", typ, id.toInt, total, null)
      val md = java.security.MessageDigest.getInstance("MD5")
      exts.foreach { case (off, ln) =>
        md.update(b, off.toInt, ln.toInt)
      }
      out += Meta("extent_md5", typ, id.toInt, 0,
        md.digest().map("%02x".format(_)).mkString)
      if (typ == "Exif") {
        // ExifDataBlock: u32 tiff header offset, then the payload
        val (o0, _) = exts.head
        if (exts.head._2 < 8) refuse()
        val hdrOff = be32(b, o0)
        val buf = new java.io.ByteArrayOutputStream()
        exts.foreach { case (off, ln) =>
          buf.write(b, off.toInt, ln.toInt)
        }
        val payload = buf.toByteArray
        if (4L + hdrOff >= payload.length) refuse()
        val tiff = java.util.Arrays.copyOfRange(
          payload, (4 + hdrOff).toInt, payload.length)
        val tags = ExifCodec.parseTiff(tiff).getOrElse(refuse())
        def gps(tag: Int) =
          tags.find(t => t.ifd == "gps" && t.tag == tag && t.idx == 0)
        for (lat <- gps(2); ref <- gps(1)) {
          out += Meta("exif_gps", "lat_deg", 0, lat.num, null)
          out += Meta("exif_gps", "lat_ref", 0, 0, ref.sval)
        }
        for (lon <- gps(4); ref <- gps(3)) {
          out += Meta("exif_gps", "lon_deg", 0, lon.num, null)
          out += Meta("exif_gps", "lon_ref", 0, 0, ref.sval)
        }
      }
    }
    out.result()
  }
}
