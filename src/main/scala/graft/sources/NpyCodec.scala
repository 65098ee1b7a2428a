package graft.sources

import Bytes._

/** Pure-Scala codec for the NumPy `.npy` container, format v1.0
  * (public spec: numpy/lib/format.py — 6-byte magic `\x93NUMPY`,
  * version bytes, little-endian u16 header length, an ASCII literal
  * dict `{'descr': ..., 'fortran_order': ..., 'shape': ...}` padded
  * so the data start is 64-byte aligned, then the raw buffer).
  *
  * The reference stores every raster tile as exactly this container
  * (the tif→npy transform, dataops/main.py:24-43; dataset shards
  * carry npy entries, dataops/dataset.py:31), so real ingest fidelity
  * means parsing the real bytes — not a parquet stand-in. Supported:
  * C-order 1-D/2-D `<f4`, `<f8`, `<i8` — the dtypes the reference
  * writes. Everything else (fortran order, objects, big-endian,
  * deeper shapes) returns None: the skip-don't-crash contract shared
  * with [[graft.operators.MultimodalOps.decodeTiff]].
  */
object NpyCodec {

  /** A decoded array: shape (1 or 2 dims) + values widened to Double
    * (exact for f4/f8 and for i8 up to 2^53 — raster/embedding range). */
  case class Npy(shape: Seq[Int], descr: String, values: Array[Double])

  private val Magic: Array[Byte] =
    Array(0x93.toByte, 'N'.toByte, 'U'.toByte, 'M'.toByte, 'P'.toByte, 'Y'.toByte)

  /** Encode a C-order `<f4` array (rows×cols; cols=0 → 1-D of rows). */
  def encodeF4(rows: Int, cols: Int, data: Array[Float]): Array[Byte] = {
    val n = if (cols == 0) rows else rows * cols
    require(data.length == n, s"data ${data.length} != shape ($rows, $cols)")
    val shape = if (cols == 0) s"($rows,)" else s"($rows, $cols)"
    val dict = s"{'descr': '<f4', 'fortran_order': False, 'shape': $shape, }"
    // pad so magic(6) + version(2) + hlen(2) + header is 64-byte aligned
    val unpadded = 10 + dict.length + 1 // + trailing '\n'
    val pad = (64 - unpadded % 64) % 64
    val header = dict + (" " * pad) + "\n"
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic, 0, 6)
    out.write(1); out.write(0) // version 1.0
    out.write(le(header.length, 2))
    out.write(header.getBytes("US-ASCII"))
    val buf = java.nio.ByteBuffer.allocate(4 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    data.foreach(buf.putFloat)
    out.write(buf.array())
    out.toByteArray
  }

  /** Decode an npy payload; None for anything outside the supported
    * envelope — never an exception (bounds are checked before every
    * read, counts before every allocation). */
  def decode(bytes: Array[Byte]): Option[Npy] = refusing(run(bytes)).flatten

  private def run(bytes: Array[Byte]): Option[Npy] = {
    if (bytes.length < 12) return None
    var i = 0
    while (i < 6) { if (bytes(i) != Magic(i)) return None; i += 1 }
    if (bytes(6) != 1 || bytes(7) != 0) return None // v1.0 only
    val hlen = le16(bytes, 8)
    val dataStart = 10 + hlen
    if (hlen <= 0 || dataStart > bytes.length) return None
    val header = new String(bytes, 10, hlen, "US-ASCII")
    val descr = "'descr':\\s*'([^']+)'".r.findFirstMatchIn(header)
      .map(_.group(1)).getOrElse(return None)
    val fortran = "'fortran_order':\\s*(True|False)".r.findFirstMatchIn(header)
      .map(_.group(1)).getOrElse(return None)
    if (fortran == "True") return None // C order only
    val shapeStr = "'shape':\\s*\\(([^)]*)\\)".r.findFirstMatchIn(header)
      .map(_.group(1)).getOrElse(return None)
    val dims = shapeStr.split(",").map(_.trim).filter(_.nonEmpty)
    if (dims.isEmpty || dims.length > 2) return None
    // toIntOption (not isDigit+toInt): an adversarial oversized dim
    // like 99999999999 must map to the None contract, not NFE-kill a
    // GeoIngest.npy task; isDigit alone also admits Unicode digits.
    val parsed = dims.map(_.toIntOption)
    if (parsed.exists(_.isEmpty)) return None
    val shape = parsed.map(_.get).toSeq
    if (shape.exists(_ < 0)) return None
    val n = shape.map(_.toLong).product
    val itemSize = descr match {
      case "<f4" => 4L; case "<f8" => 8L; case "<i8" => 8L; case _ => return None
    }
    if (n * itemSize != bytes.length - dataStart || n > Int.MaxValue / 8)
      return None
    val buf = java.nio.ByteBuffer.wrap(bytes, dataStart, (n * itemSize).toInt)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val values = new Array[Double](n.toInt)
    var j = 0
    descr match {
      case "<f4" => while (j < n) { values(j) = buf.getFloat.toDouble; j += 1 }
      case "<f8" => while (j < n) { values(j) = buf.getDouble; j += 1 }
      case "<i8" => while (j < n) { values(j) = buf.getLong.toDouble; j += 1 }
    }
    Some(Npy(shape, descr, values))
  }
}
