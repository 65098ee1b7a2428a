package graft.sources

import Bytes._

/** safetensors codec — the tensor-shard interchange format modern ML
  * artifacts actually ship in (model weights, precomputed embedding
  * shards, activation dumps). The reference materializes tensors as
  * npy/h5 artifacts (dataops/dataset.py); safetensors is the same
  * named-tensors-in-one-object idea with a self-describing JSON
  * header, designed so a reader can map any single tensor without
  * touching the rest — exactly the range-read shape an object store
  * wants at 100 TB.
  *
  * Wire format (public spec, huggingface/safetensors):
  * 8-byte LE u64 header length N, then N bytes of JSON mapping
  * tensor name → {"dtype", "shape", "data_offsets": [begin, end]}
  * (offsets relative to the byte after the header; an optional
  * "__metadata__" entry maps strings to strings), then the raw
  * little-endian tensor data. The JSON header is parsed by a strict
  * recursive-descent parser scoped to exactly that grammar — no JSON
  * library, no reflection, never throws.
  *
  * Validation follows the spec's reference implementation: duplicate
  * names refuse; every tensor's span must satisfy
  * product(shape)·sizeof(dtype) == end−begin; spans sorted by begin
  * must tile the data region exactly (first begins at 0, each next
  * begins where the previous ended, last ends at the region's end) —
  * overlap, gaps, and trailing slack all refuse whole-file, as does
  * an unknown dtype or a header over budget. Elements are emitted
  * row-major as raw little-endian bits zero-extended into a long
  * (i64/u64/f64 carry their full 8 bytes as the long's bits), so
  * grading is bit-exact for every dtype including NaN payloads.
  */
object SafetensorsCodec {

  /** One tensor element: name, dtype tag, "d0xd1x…" shape string,
    * row-major element index, raw LE bits zero-extended to a long. */
  case class Elem(name: String, dtype: String, shape: String, idx: Long, bits: Long)

  val MaxHeaderBytes: Int = 1 << 20
  val MaxElems: Long = 4L << 20

  /** dtype → element width in bytes; the full published dtype set. */
  private val DtypeSize: Map[String, Int] = Map(
    "BOOL" -> 1, "U8" -> 1, "I8" -> 1, "F8_E4M3" -> 1, "F8_E5M2" -> 1,
    "I16" -> 2, "U16" -> 2, "F16" -> 2, "BF16" -> 2,
    "I32" -> 4, "U32" -> 4, "F32" -> 4,
    "I64" -> 8, "U64" -> 8, "F64" -> 8)

  /** Decode a shard to its tensor elements, or None on any structural
    * fault (whole-file refusal — a weight shard is all-or-nothing in a
    * way an archive of independent members is not). Never throws. */
  def decode(bytes: Array[Byte]): Option[Vector[Elem]] =
    refusing(run(bytes))

  private def run(bytes: Array[Byte]): Vector[Elem] = {
    if (bytes.length < 8) refuse()
    val n = le64(bytes, 0)
    if (n < 2 || n > MaxHeaderBytes || 8 + n > bytes.length) refuse()
    val header = parseHeader(bytes, 8, (8 + n).toInt)
    val dataOff = 8 + n.toInt
    val dataLen = (bytes.length - dataOff).toLong

    // per-tensor shape/dtype/span validation
    case class T(name: String, dtype: String, shape: Seq[Long], off: Long, end: Long)
    val tensors = Vector.newBuilder[T]
    var totalElems = 0L
    header.find(_._1 == "__metadata__").foreach { case (_, m) =>
      if (!m.values.forall(_.isInstanceOf[String])) refuse()
    }
    for ((name, fields) <- header if name != "__metadata__") {
      val dtype = fields.get("dtype") match {
        case Some(s: String) => s
        case _ => refuse()
      }
      val size = DtypeSize.getOrElse(dtype, refuse())
      val shape = fields.get("shape") match {
        case Some(v: Vector[_]) =>
          v.map { case l: Long if l >= 0 => l; case _ => refuse() }
        case _ => refuse()
      }
      val elems = shape.foldLeft(1L) { (a, d) =>
        if (d != 0 && a > MaxElems / d + 1) refuse() else a * d
      }
      val span = fields.get("data_offsets") match {
        case Some(Vector(a: Long, b: Long)) if a >= 0 && b >= a => (a, b)
        case _ => refuse()
      }
      if (span._2 - span._1 != elems * size) refuse()
      if (span._2 > dataLen) refuse()
      totalElems += elems
      if (totalElems > MaxElems) refuse()
      tensors += T(name, dtype, shape, span._1, span._2)
    }
    val ts = tensors.result()

    // spans must tile [0, dataLen) exactly: sort by begin, walk
    var cursor = 0L
    for (t <- ts.sortBy(t => (t.off, t.end))) {
      if (t.off != cursor) refuse()
      cursor = t.end
    }
    if (cursor != dataLen) refuse()

    val out = Vector.newBuilder[Elem]
    for (t <- ts) {
      val size = DtypeSize(t.dtype)
      val shapeStr = t.shape.mkString("x")
      val count = if (t.shape.isEmpty) 1L else t.shape.product
      var i = 0L
      while (i < count) {
        val p = dataOff + t.off + i * size
        out += Elem(t.name, t.dtype, shapeStr, i, leN(bytes, p, size))
        i += 1
      }
    }
    out.result()
  }

  /** Encode named tensors to a shard in canonical form: header keys
    * in argument order, compact separators, no alignment padding,
    * names escaped minimally (quote, backslash, control chars) with
    * non-ASCII kept as raw UTF-8 — byte-for-byte the output of
    * Python's `json.dumps(..., separators=(",",":"),
    * ensure_ascii=False)` over the same entries, which is what pins
    * the sink against the independent writer in
    * tools/safetensors_golden.py. Caller supplies raw little-endian
    * data per tensor; spans are laid end to end from 0. */
  def encode(tensors: Seq[(String, String, Seq[Long], Array[Byte])]): Array[Byte] = {
    val h = new java.lang.StringBuilder("{")
    var off = 0L
    tensors.zipWithIndex.foreach { case ((name, dtype, shape, data), i) =>
      val size = DtypeSize(dtype)
      val count = shape.foldLeft(1L)(_ * _)
      require(count * size == data.length,
        s"$name: shape ${shape.mkString("x")} x $dtype != ${data.length} bytes")
      if (i > 0) h.append(',')
      h.append('"')
      name.foreach {
        case '"' => h.append("\\\"")
        case '\\' => h.append("\\\\")
        case '\b' => h.append("\\b")
        case '\f' => h.append("\\f")
        case '\n' => h.append("\\n")
        case '\r' => h.append("\\r")
        case '\t' => h.append("\\t")
        case c if c < ' ' => h.append(f"\\u${c.toInt}%04x")
        case c => h.append(c)
      }
      h.append("\":{\"dtype\":\"").append(dtype)
        .append("\",\"shape\":[").append(shape.mkString(","))
        .append("],\"data_offsets\":[").append(off).append(',')
        .append(off + data.length).append("]}")
      off += data.length
    }
    h.append('}')
    val hb = h.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = java.nio.ByteBuffer
      .allocate(8 + hb.length + off.toInt)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.putLong(hb.length.toLong).put(hb)
    tensors.foreach { case (_, _, _, data) => out.put(data) }
    out.array()
  }

  // ---- strict JSON for exactly the header grammar -------------------

  /** Parse `{name: {field: value}}` where values are strings, integer
    * longs, or arrays of integer longs ("__metadata__" values are
    * strings). Duplicate keys at either level refuse. Returns entries
    * in file order. */
  private def parseHeader(
      b: Array[Byte], from: Int, until: Int): Vector[(String, Map[String, Any])] = {
    var p = from
    def peek: Int = if (p < until) b(p) & 0xff else -1
    def next(): Int = { val c = peek; if (c < 0) refuse(); p += 1; c }
    def ws(): Unit = while (peek == ' ' || peek == '\t' || peek == '\n' || peek == '\r') p += 1
    def expect(c: Char): Unit = if (next() != c.toInt) refuse()

    def string(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder
      var c = next()
      while (c != '"') {
        if (c == '\\') next() match {
          case '"' => sb.append('"')
          case '\\' => sb.append('\\')
          case '/' => sb.append('/')
          case 'b' => sb.append('\b')
          case 'f' => sb.append('\f')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case 't' => sb.append('\t')
          case 'u' =>
            var v = 0
            var k = 0
            while (k < 4) {
              val h = next()
              val d =
                if (h >= '0' && h <= '9') h - '0'
                else if (h >= 'a' && h <= 'f') h - 'a' + 10
                else if (h >= 'A' && h <= 'F') h - 'A' + 10
                else refuse()
              v = (v << 4) | d
              k += 1
            }
            sb.append(v.toChar)
          case _ => refuse()
        }
        else if (c < 0x20) refuse()
        else if (c < 0x80) sb.append(c.toChar)
        else {
          // re-decode the UTF-8 sequence starting at c
          val len = if ((c & 0xe0) == 0xc0) 2 else if ((c & 0xf0) == 0xe0) 3
            else if ((c & 0xf8) == 0xf0) 4 else refuse()
          if (p - 1 + len > until) refuse()
          sb.append(new String(b, p - 1, len, java.nio.charset.StandardCharsets.UTF_8))
          p += len - 1
        }
        c = next()
      }
      sb.toString
    }

    def long(): Long = {
      var v = 0L
      var any = false
      while (peek >= '0' && peek <= '9') {
        val d = next() - '0'
        if (v > (Long.MaxValue - d) / 10) refuse()
        v = v * 10 + d
        any = true
      }
      if (!any) refuse()
      v
    }

    def longArray(): Vector[Long] = {
      expect('[')
      ws()
      val out = Vector.newBuilder[Long]
      if (peek == ']') { p += 1; return out.result() }
      var more = true
      while (more) {
        ws(); out += long(); ws()
        next() match {
          case ',' => ()
          case ']' => more = false
          case _ => refuse()
        }
      }
      out.result()
    }

    def value(): Any = {
      ws()
      peek match {
        case '"' => string()
        case '[' => longArray()
        case c if c >= '0' && c <= '9' => long()
        case _ => refuse()
      }
    }

    def innerObject(): Map[String, Any] = {
      expect('{')
      ws()
      var m = Map.empty[String, Any]
      if (peek == '}') { p += 1; return m }
      var more = true
      while (more) {
        ws()
        val k = string()
        if (m.contains(k)) refuse()
        ws(); expect(':')
        m += (k -> value())
        ws()
        next() match {
          case ',' => ()
          case '}' => more = false
          case _ => refuse()
        }
      }
      m
    }

    ws()
    expect('{')
    ws()
    val out = Vector.newBuilder[(String, Map[String, Any])]
    var seen = Set.empty[String]
    if (peek == '}') { p += 1 }
    else {
      var more = true
      while (more) {
        ws()
        val k = string()
        if (seen(k)) refuse()
        seen += k
        ws(); expect(':'); ws()
        out += (k -> innerObject())
        ws()
        next() match {
          case ',' => ()
          case '}' => more = false
          case _ => refuse()
        }
      }
    }
    ws()
    if (p != until) refuse() // trailing bytes after the closing brace
    out.result()
  }
}
