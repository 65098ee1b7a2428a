package graft.sources

import Bytes._

/** TFRecord + `tf.train.Example` codec — the classic ML training-shard
  * wire format (TensorFlow's `TFRecordDataset`; T5/C4 shipped this
  * way, and webdataset/tfrecord remain the two dominant "bucket of
  * sample shards" layouts). The reference materializes training
  * examples as (npy, h5) artifacts (dataops/dataset.py,
  * eval/cropharvest_extensions.py); TFRecord is the same
  * examples-in-shards idea in the form TF-era pipelines actually ship.
  *
  * Public format, from the TensorFlow record-writer spec: a TFRecord
  * file is a sequence of framed records, each
  *
  *   uint64 length (LE) | uint32 masked-crc32c(length bytes) (LE) |
  *   data[length]       | uint32 masked-crc32c(data) (LE)
  *
  * where masked-crc32c(x) = rotr15(crc32c(x)) + 0xa282ead8 (mod 2^32)
  * and crc32c is the Castagnoli CRC ([[java.util.zip.CRC32C]]).
  * Record payloads are `tf.train.Example` protobuf messages:
  *
  *   Example  { Features features = 1; }
  *   Features { map<string, Feature> feature = 1; }
  *   Feature  { oneof { BytesList bytes_list = 1;
  *                      FloatList float_list = 2;
  *                      Int64List int64_list = 3; } }
  *   BytesList { repeated bytes value = 1; }          // len-delimited
  *   FloatList { repeated float value = 1 [packed]; } // or wire-5 each
  *   Int64List { repeated int64 value = 1 [packed]; } // or wire-0 each
  *
  * decoded here by a hand-rolled bounded proto walker (varint + the
  * four proto2/3 wire types; unknown fields skipped as the proto spec
  * mandates; packed AND unpacked list encodings accepted; repeated
  * occurrences of one list field concatenate; a repeated `features`
  * field or duplicate map key merges last-wins, the map semantic).
  *
  * Contract discipline as the other container codecs: the framing walk
  * is fully bounds-checked, record counts/sizes capped, and ANY
  * framing violation — bad length or data CRC, truncated record,
  * oversize length — refuses the whole FILE with None (one corrupt
  * shard in a 100 TB bucket costs its shard, not the job). A record
  * whose payload is not a parseable Example degrades per RECORD: the
  * caller receives the raw bytes and keeps the row, not the parse.
  */
object TfRecordCodec {

  /** Per-record payload ceiling and whole-file record ceiling. */
  val MaxRecordBytes: Int = Compression.MaxInflatedBytes
  val MaxRecords: Int = 100000
  private val MaxFeatures = 4096
  private val MaxListElems = 1 << 22

  /** One decoded feature: `kind` is "bytes" | "float" | "int64".
    * Floats carry their RAW little-endian wire bits (an Int per
    * element) — bit-exact, NaN payloads preserved, no float→double
    * widening ambiguity downstream. */
  case class Feature(
      kind: String, ints: Vector[Long], floatBits: Vector[Int],
      bytess: Vector[Array[Byte]])

  /** TFRecord framing: the file's record payloads in order, or None
    * on any structural violation — truncated frame, length over
    * [[MaxRecordBytes]], record count over [[MaxRecords]], or either
    * CRC mismatch. Never throws. */
  def parse(bytes: Array[Byte]): Option[Vector[Array[Byte]]] =
    refusing(run(bytes)).flatten

  private def run(bytes: Array[Byte]): Option[Vector[Array[Byte]]] = {
    val out = Vector.newBuilder[Array[Byte]]
    var pos = 0
    var n = 0
    while (pos < bytes.length) {
      if (n >= MaxRecords) return None
      if (pos + 12 > bytes.length) return None
      val len = le64(bytes, pos)
      if (len < 0 || len > MaxRecordBytes) return None
      val lenCrc = le32(bytes, pos + 8).toInt
      if (maskedCrc32c(bytes, pos, 8) != lenCrc) return None
      val dataOff = pos + 12
      val ilen = len.toInt
      // Long arithmetic: near the 2 GiB array ceiling dataOff+ilen+4
      // wraps negative in Int and would pass the bound
      if (dataOff.toLong + ilen + 4 > bytes.length) return None
      val dataCrc = le32(bytes, dataOff + ilen).toInt
      if (maskedCrc32c(bytes, dataOff, ilen) != dataCrc) return None
      out += java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + ilen)
      pos = dataOff + ilen + 4
      n += 1
    }
    if (n == 0) None else Some(out.result())
  }

  /** Masked Castagnoli CRC over `bytes[off, off+len)` per the TFRecord
    * spec: rotate-right 15, add the fixed mask, all mod 2^32. */
  def maskedCrc32c(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(bytes, off, len)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  // ---- encoder (the sink's half) -------------------------------------

  /** Frame one record payload per the TFRecord spec. */
  def frame(rec: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(rec.length + 16)
    val ln = le(rec.length, 8)
    out.write(ln)
    out.write(le(maskedCrc32c(ln, 0, 8), 4))
    out.write(rec)
    out.write(le(maskedCrc32c(rec, 0, rec.length), 4))
    out.toByteArray
  }

  /** Encode a `tf.train.Example` from ordered feature entries —
    * deterministic wire choices (packed int64/float lists, features
    * in the given order) so identical input yields identical bytes
    * across writers that make the same choices. */
  def encodeExample(entries: Seq[(String, Feature)]): Array[Byte] = {
    val feats = new java.io.ByteArrayOutputStream()
    entries.foreach { case (k, f) =>
      val fb = new java.io.ByteArrayOutputStream()
      f.kind match {
        case "bytes" =>
          val body = new java.io.ByteArrayOutputStream()
          f.bytess.foreach(v => writeLd(body, 1, v))
          writeLd(fb, 1, body.toByteArray)
        case "float" =>
          val packed = new Array[Byte](f.floatBits.size * 4)
          var i = 0
          while (i < f.floatBits.size) { putLe(packed, 4 * i, f.floatBits(i), 4); i += 1 }
          val body = new java.io.ByteArrayOutputStream()
          writeLd(body, 1, packed)
          writeLd(fb, 2, body.toByteArray)
        case "int64" =>
          val packed = new java.io.ByteArrayOutputStream()
          f.ints.foreach(writeVarint(packed, _))
          val body = new java.io.ByteArrayOutputStream()
          writeLd(body, 1, packed.toByteArray)
          writeLd(fb, 3, body.toByteArray)
        case _ => ()
      }
      val ent = new java.io.ByteArrayOutputStream()
      writeLd(ent, 1, k.getBytes("UTF-8"))
      writeLd(ent, 2, fb.toByteArray)
      writeLd(feats, 1, ent.toByteArray)
    }
    val ex = new java.io.ByteArrayOutputStream()
    writeLd(ex, 1, feats.toByteArray)
    ex.toByteArray
  }

  private def writeVarint(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var x = v
    var more = true
    while (more) {
      val b = (x & 0x7f).toInt
      x = x >>> 7
      if (x != 0) out.write(b | 0x80) else { out.write(b); more = false }
    }
  }

  private def writeLd(
      out: java.io.ByteArrayOutputStream, field: Int, body: Array[Byte]): Unit = {
    writeVarint(out, (field.toLong << 3) | 2)
    writeVarint(out, body.length.toLong)
    out.write(body)
  }

  // ---- bounded protobuf walker ---------------------------------------

  /** Decode one varint at `pos` within [0, end); returns (value, next)
    * or None on truncation / >10 bytes (the proto cap). */
  private def varint(b: Array[Byte], pos: Int, end: Int): Option[(Long, Int)] = {
    var v = 0L
    var shift = 0
    var p = pos
    while (p < end && shift <= 63) {
      val byte = b(p) & 0xff
      v |= (byte & 0x7fL) << shift
      p += 1
      if ((byte & 0x80) == 0) return Some((v, p))
      shift += 7
    }
    None
  }

  /** Skip one field of the given wire type; None on truncation or a
    * wire type the Example grammar can never contain (groups). */
  private def skipField(
      b: Array[Byte], pos: Int, end: Int, wire: Int): Option[Int] = wire match {
    case 0 => varint(b, pos, end).map(_._2)
    case 1 => if (pos + 8 <= end) Some(pos + 8) else None
    case 2 => varint(b, pos, end).flatMap { case (len, p) =>
      if (len >= 0 && p + len <= end) Some(p + len.toInt) else None
    }
    case 5 => if (pos + 4 <= end) Some(pos + 4) else None
    case _ => None
  }

  /** Walk a message's fields in [pos, end), dispatching known fields
    * to `f(fieldNo, wire, bodyStart, bodyEnd)` which returns the next
    * offset (for wire 2, [bodyStart,bodyEnd) is the delimited body and
    * next = bodyEnd; for scalar wires bodyEnd is unused and `f` must
    * consume the scalar itself). Returns false on any violation. */
  private def walk(b: Array[Byte], pos: Int, end: Int)(
      f: (Int, Int, Int, Int) => Option[Int]): Boolean = {
    var p = pos
    while (p < end) {
      varint(b, p, end) match {
        case None => return false
        case Some((tag, p1)) =>
          val field = (tag >>> 3).toInt
          val wire = (tag & 7).toInt
          if (tag < 0 || field == 0) return false
          val next = if (wire == 2) {
            varint(b, p1, end) match {
              case Some((len, p2)) if len >= 0 && p2 + len <= end =>
                f(field, wire, p2, p2 + len.toInt)
              case _ => None
            }
          } else f(field, wire, p1, end)
          next match {
            case Some(np) if np > p => p = np
            case _ => return false
          }
      }
    }
    true
  }

  /** Parse a `tf.train.Example` payload into its feature map, entries
    * in first-seen key order with last-wins on duplicates (the proto
    * map semantic). None if the payload is not a well-formed Example
    * — the caller keeps the record and degrades. */
  def parseExample(bytes: Array[Byte]): Option[Vector[(String, Feature)]] =
    refusing {
      val entries = new scala.collection.mutable.LinkedHashMap[String, Feature]
      val ok = walk(bytes, 0, bytes.length) { (field, wire, s, e) =>
        if (field == 1 && wire == 2) {
          if (parseFeatures(bytes, s, e, entries)) Some(e) else None
        } else if (wire == 2) Some(e)
        else skipField(bytes, s, e, wire)
      }
      if (ok) Some(entries.toVector) else None
    }.flatten

  /** Features message: repeated map entries { 1: key, 2: Feature }. */
  private def parseFeatures(
      b: Array[Byte], pos: Int, end: Int,
      out: scala.collection.mutable.LinkedHashMap[String, Feature]): Boolean =
    walk(b, pos, end) { (field, wire, s, e) =>
      if (field == 1 && wire == 2) {
        if (out.size >= MaxFeatures) None
        else parseMapEntry(b, s, e) match {
          case Some((k, v)) => out.update(k, v); Some(e)
          case None => None
        }
      } else if (wire == 2) Some(e)
      else skipField(b, s, e, wire)
    }

  private def parseMapEntry(
      b: Array[Byte], pos: Int, end: Int): Option[(String, Feature)] = {
    var key: String = ""
    var feat = Feature("", Vector.empty, Vector.empty, Vector.empty)
    val ok = walk(b, pos, end) { (field, wire, s, e) =>
      if (field == 1 && wire == 2) {
        key = new String(b, s, e - s, "UTF-8"); Some(e)
      } else if (field == 2 && wire == 2) {
        parseFeature(b, s, e) match {
          case Some(f) => feat = f; Some(e)
          case None => None
        }
      } else if (wire == 2) Some(e)
      else skipField(b, s, e, wire)
    }
    if (ok) Some((key, feat)) else None
  }

  /** Feature oneof: last kind field wins; repeated occurrences of ONE
    * kind concatenate (proto merge of the repeated inner field). */
  private def parseFeature(
      b: Array[Byte], pos: Int, end: Int): Option[Feature] = {
    var kind = ""
    var ints = Vector.empty[Long]
    var floats = Vector.empty[Int]
    var bytess = Vector.empty[Array[Byte]]
    val ok = walk(b, pos, end) { (field, wire, s, e) =>
      (field, wire) match {
        case (1, 2) => // BytesList
          if (kind != "bytes") { kind = "bytes"; ints = Vector.empty
            floats = Vector.empty; bytess = Vector.empty }
          parseBytesList(b, s, e).map { v => bytess ++= v; e }
        case (2, 2) => // FloatList
          if (kind != "float") { kind = "float"; ints = Vector.empty
            floats = Vector.empty; bytess = Vector.empty }
          parseFloatList(b, s, e).map { v => floats ++= v; e }
        case (3, 2) => // Int64List
          if (kind != "int64") { kind = "int64"; ints = Vector.empty
            floats = Vector.empty; bytess = Vector.empty }
          parseInt64List(b, s, e).map { v => ints ++= v; e }
        case (_, 2) => Some(e)
        case _ => skipField(b, s, e, wire)
      }
    }
    if (ok && kind.nonEmpty) Some(Feature(kind, ints, floats, bytess))
    else if (ok) Some(Feature("", Vector.empty, Vector.empty, Vector.empty))
    else None
  }

  private def parseBytesList(
      b: Array[Byte], pos: Int, end: Int): Option[Vector[Array[Byte]]] = {
    val out = Vector.newBuilder[Array[Byte]]
    var n = 0
    val ok = walk(b, pos, end) { (field, wire, s, e) =>
      if (field == 1 && wire == 2) {
        n += 1
        if (n > MaxListElems) None
        else { out += java.util.Arrays.copyOfRange(b, s, e); Some(e) }
      } else if (wire == 2) Some(e)
      else skipField(b, s, e, wire)
    }
    if (ok) Some(out.result()) else None
  }

  /** FloatList values: packed (wire 2, body = 4-byte LE floats) or
    * unpacked (wire 5 per element). Raw wire bits are preserved. */
  private def parseFloatList(
      b: Array[Byte], pos: Int, end: Int): Option[Vector[Int]] = {
    val out = Vector.newBuilder[Int]
    var n = 0
    val ok = walk(b, pos, end) { (field, wire, s, e) =>
      if (field == 1 && wire == 2) {
        if ((e - s) % 4 != 0 || n + (e - s) / 4 > MaxListElems) None
        else {
          var p = s
          while (p < e) { out += le32(b, p).toInt; p += 4; n += 1 }
          Some(e)
        }
      } else if (field == 1 && wire == 5) {
        n += 1
        if (n > MaxListElems || s + 4 > e) None
        else { out += le32(b, s).toInt; Some(s + 4) }
      } else if (wire == 2) Some(e)
      else skipField(b, s, e, wire)
    }
    if (ok) Some(out.result()) else None
  }

  /** Int64List values: packed (wire 2, body = varints) or unpacked
    * (wire 0 per element). */
  private def parseInt64List(
      b: Array[Byte], pos: Int, end: Int): Option[Vector[Long]] = {
    val out = Vector.newBuilder[Long]
    var n = 0
    val ok = walk(b, pos, end) { (field, wire, s, e) =>
      if (field == 1 && wire == 2) {
        var p = s
        var bad = false
        while (p < e && !bad) {
          varint(b, p, e) match {
            case Some((v, np)) =>
              n += 1; if (n > MaxListElems) bad = true
              else { out += v; p = np }
            case None => bad = true
          }
        }
        if (bad) None else Some(e)
      } else if (field == 1 && wire == 0) {
        n += 1
        if (n > MaxListElems) None
        else varint(b, s, e).map { case (v, np) => out += v; np }
      } else if (wire == 2) Some(e)
      else skipField(b, s, e, wire)
    }
    if (ok) Some(out.result()) else None
  }
}
