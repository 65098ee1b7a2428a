package graft.sources

/** Arrow IPC writer — the sink half of [[ArrowCodec]]: emits Feather
  * V2 (IPC FILE format) shards in the embedding-dump shape downstream
  * tooling mmaps (`id` int64 + `embedding` fixed_size_list<float32>),
  * readable by pyarrow/polars/HF-datasets. The flatbuffers metadata
  * is built by [[Fbb]], a from-scratch back-to-front builder
  * implementing the public wire format (vtables, end-relative
  * offsets, the reference alignment algorithm) — no flatbuffers
  * library. Cross-implementation validation: ArrowCodec round-trips
  * every shard in-spec, and a committed sink-produced fixture is
  * re-read by pyarrow inside tools/arrow_golden.py on every fixture
  * regeneration. */
object ArrowWrite {

  /** Minimal flatbuffers builder (back-to-front, the canonical
    * algorithm): scalars, strings, struct vectors, offset vectors,
    * and tables with explicit slot ids. Offsets returned and consumed
    * are distances from the buffer END. */
  final class Fbb(cap: Int = 1024) {
    private var buf = new Array[Byte](cap)
    private var space = cap
    private var minalign = 1
    private var vtableSlots: Array[Int] = _
    private var tableStart = 0

    private def offset: Int = buf.length - space

    private def grow(needed: Int): Unit = {
      var newCap = buf.length
      while (newCap - (buf.length - space) < needed) newCap *= 2
      val nb = new Array[Byte](newCap)
      System.arraycopy(buf, space, nb, newCap - (buf.length - space),
        buf.length - space)
      space = newCap - (buf.length - space)
      buf = nb
    }

    /** Pad so that after writing `size`+`extra` bytes the position is
      * `size`-aligned (end-relative), growing as needed. */
    private def prep(size: Int, extra: Int): Unit = {
      if (size > minalign) minalign = size
      val alignSize =
        (~(buf.length - space + extra)).+(1) & (size - 1)
      if (space < alignSize + size + extra) grow(alignSize + size + extra)
      var i = 0
      while (i < alignSize) { space -= 1; buf(space) = 0; i += 1 }
    }

    private def putRaw(width: Int, v: Long): Unit = {
      space -= width
      Bytes.putLe(buf, space, v, width)
    }
    def pushI8(v: Int): Unit = { prep(1, 0); putRaw(1, v.toLong) }
    def pushI16(v: Int): Unit = { prep(2, 0); putRaw(2, v.toLong) }
    def pushI32(v: Int): Unit = { prep(4, 0); putRaw(4, v.toLong) }
    def pushI64(v: Long): Unit = { prep(8, 0); putRaw(8, v) }
    private def pushUOff(target: Int): Unit = {
      prep(4, 0)
      putRaw(4, (offset - target + 4).toLong)
    }

    def createString(s: String): Int = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      prep(4, b.length + 1)
      space -= 1; buf(space) = 0
      space -= b.length
      System.arraycopy(b, 0, buf, space, b.length)
      putRaw(4, b.length.toLong)
      offset
    }

    /** Vector of inline structs/scalars from pre-serialized LE bytes. */
    def createRawVector(elemCount: Int, elemSize: Int, raw: Array[Byte]): Int = {
      prep(4, raw.length)
      prep(elemSize min 8, raw.length) // align elements
      space -= raw.length
      System.arraycopy(raw, 0, buf, space, raw.length)
      putRaw(4, elemCount.toLong)
      offset
    }

    def createOffsetVector(offs: Seq[Int]): Int = {
      prep(4, offs.length * 4)
      for (o <- offs.reverse) pushUOff(o)
      putRaw(4, offs.length.toLong)
      offset
    }

    def startTable(slots: Int): Unit = {
      vtableSlots = new Array[Int](slots)
      tableStart = offset
    }
    def slotI8(id: Int, v: Int, default: Int): Unit =
      if (v != default) { pushI8(v); vtableSlots(id) = offset }
    def slotI16(id: Int, v: Int, default: Int): Unit =
      if (v != default) { pushI16(v); vtableSlots(id) = offset }
    def slotI32(id: Int, v: Int, default: Int): Unit =
      if (v != default) { pushI32(v); vtableSlots(id) = offset }
    def slotI64(id: Int, v: Long, default: Long): Unit =
      if (v != default) { pushI64(v); vtableSlots(id) = offset }
    def slotBool(id: Int, v: Boolean): Unit =
      if (v) { pushI8(1); vtableSlots(id) = offset }
    def slotOff(id: Int, target: Int): Unit =
      if (target != 0) { pushUOff(target); vtableSlots(id) = offset }

    def endTable(): Int = {
      // soffset placeholder
      prep(4, 0); putRaw(4, 0L)
      val tablePos = offset
      // vtable: [vt size][table size][per-slot u16 offsets]
      val tableSize = tablePos - tableStart
      var n = vtableSlots.length
      while (n > 0 && vtableSlots(n - 1) == 0) n -= 1
      var i = n - 1
      while (i >= 0) {
        val fieldOff = if (vtableSlots(i) == 0) 0 else tablePos - vtableSlots(i)
        pushI16(fieldOff)
        i -= 1
      }
      pushI16(tableSize)
      pushI16(4 + 2 * n)
      // patch the table's soffset = table_addr - vtable_addr
      val vtPos = offset
      val at = buf.length - tablePos
      Bytes.putLe(buf, at, vtPos - tablePos, 4) // positive: vtable before table in addresses
      tablePos
    }

    def finish(root: Int): Array[Byte] = {
      prep(minalign, 4)
      pushUOff(root)
      java.util.Arrays.copyOfRange(buf, space, buf.length)
    }
  }

  // ---- the IPC file ---------------------------------------------------

  private def pad8(n: Int): Int = (n + 7) & ~7

  /** Schema flatbuffer table builder, shared by the schema message
    * and the footer: fields [id: Int64, embedding: FSL<dim, f32>]. */
  private def schemaTable(b: Fbb, dim: Int): Int = {
    // child field: item: FloatingPoint(SINGLE)
    val itemName = b.createString("item")
    b.startTable(2) // FloatingPoint: precision(0)
    b.slotI16(0, 1, 0) // SINGLE
    val fpType = b.endTable()
    b.startTable(7) // Field
    b.slotOff(0, itemName)
    b.slotBool(1, v = true)
    b.slotI8(2, 3, 0) // type_type FloatingPoint
    b.slotOff(3, fpType)
    val itemField = b.endTable()

    val embChildren = b.createOffsetVector(Seq(itemField))
    val embName = b.createString("embedding")
    b.startTable(1) // FixedSizeList: listSize(0)
    b.slotI32(0, dim, 0)
    val fslType = b.endTable()
    b.startTable(7)
    b.slotOff(0, embName)
    b.slotBool(1, v = true)
    b.slotI8(2, 16, 0) // type_type FixedSizeList
    b.slotOff(3, fslType)
    b.slotOff(5, embChildren)
    val embField = b.endTable()

    val idName = b.createString("id")
    b.startTable(2) // Int: bitWidth(0) is_signed(1)
    b.slotI32(0, 64, 0)
    b.slotBool(1, v = true)
    val intType = b.endTable()
    b.startTable(7)
    b.slotOff(0, idName)
    b.slotBool(1, v = true)
    b.slotI8(2, 2, 0) // type_type Int
    b.slotOff(3, intType)
    val idField = b.endTable()

    val fields = b.createOffsetVector(Seq(idField, embField))
    b.startTable(4) // Schema: endianness(0) fields(1)
    b.slotOff(1, fields)
    b.endTable()
  }

  /** Schema flatbuffer for the (id: Int64, text: Utf8) shape — the
    * HF-bound TEXT export sibling of the embedding schema. */
  private def textSchemaTable(b: Fbb): Int = {
    val txtName = b.createString("text")
    b.startTable(1) // Utf8: no fields
    val utf8Type = b.endTable()
    b.startTable(7) // Field
    b.slotOff(0, txtName)
    b.slotBool(1, v = true)
    b.slotI8(2, 5, 0) // type_type Utf8
    b.slotOff(3, utf8Type)
    val txtField = b.endTable()

    val idName = b.createString("id")
    b.startTable(2) // Int: bitWidth(0) is_signed(1)
    b.slotI32(0, 64, 0)
    b.slotBool(1, v = true)
    val intType = b.endTable()
    b.startTable(7)
    b.slotOff(0, idName)
    b.slotBool(1, v = true)
    b.slotI8(2, 2, 0) // type_type Int
    b.slotOff(3, intType)
    val idField = b.endTable()

    val fields = b.createOffsetVector(Seq(idField, txtField))
    b.startTable(4) // Schema: endianness(0) fields(1)
    b.slotOff(1, fields)
    b.endTable()
  }

  /** Encapsulate a message flatbuffer: continuation + metalen +
    * padded body. */
  private def encapsulate(fb: Array[Byte]): Array[Byte] = {
    val metaLen = pad8(fb.length)
    val out = new Array[Byte](8 + metaLen)
    out(0) = -1; out(1) = -1; out(2) = -1; out(3) = -1
    Bytes.putLe(out, 4, metaLen, 4)
    System.arraycopy(fb, 0, out, 8, fb.length)
    out
  }

  private def messageFb(headerType: Int, bodyLen: Long)(
      header: Fbb => Int): Array[Byte] = {
    val b = new Fbb()
    val h = header(b)
    b.startTable(5) // Message: version(0) header_type(1) header(2) bodyLength(3)
    b.slotI16(0, 4, 0) // MetadataVersion V5
    b.slotI8(1, headerType, 0)
    b.slotOff(2, h)
    b.slotI64(3, bodyLen, 0)
    b.finish(b.endTable())
  }

  /** Shared assembly: (schema message, batch message, body bytes). */
  private def buildParts(ids: Array[Long], emb: Array[Float],
      dim: Int): (Array[Byte], Array[Byte], Array[Byte]) = {
    val n = ids.length
    require(emb.length == n * dim, s"embedding buffer ${emb.length} != $n x $dim")
    val idBytes = 8 * n
    val embBytes = 4 * n * dim
    // body: [id validity len0][id data][emb validity len0]
    //       [child validity len0][child data]
    val bufOffs = Array(0L, 0L, pad8(idBytes).toLong, pad8(idBytes).toLong,
      pad8(idBytes).toLong)
    val bufLens = Array(0L, idBytes.toLong, 0L, 0L, embBytes.toLong)
    val bodyLen = pad8(idBytes) + pad8(embBytes)

    val schemaMsg = encapsulate(messageFb(1, 0)(schemaTable(_, dim)))

    val batchMsg = encapsulate(messageFb(3, bodyLen.toLong) { b =>
      // Buffer structs: (offset i64, length i64), reversed for backward build
      val bufRaw = new Array[Byte](16 * 5)
      for (i <- 0 until 5) {
        Bytes.putLe(bufRaw, 16 * i, bufOffs(i), 8); Bytes.putLe(bufRaw, 16 * i + 8, bufLens(i), 8)
      }
      val buffers = b.createRawVector(5, 8, bufRaw)
      // FieldNode structs: (length i64, null_count i64): id, emb, child
      val nodeRaw = new Array[Byte](16 * 3)
      Bytes.putLe(nodeRaw, 0, n, 8); Bytes.putLe(nodeRaw, 16, n, 8)
      Bytes.putLe(nodeRaw, 32, n.toLong * dim, 8)
      val nodes = b.createRawVector(3, 8, nodeRaw)
      b.startTable(4) // RecordBatch: length(0) nodes(1) buffers(2)
      b.slotI64(0, n.toLong, 0)
      b.slotOff(1, nodes)
      b.slotOff(2, buffers)
      b.endTable()
    })

    val body = new Array[Byte](bodyLen)
    var p = 0
    for (i <- 0 until n) { Bytes.putLe(body, p, ids(i), 8); p += 8 }
    p = pad8(idBytes)
    for (i <- 0 until n * dim) {
      Bytes.putLe(body, p, java.lang.Float.floatToRawIntBits(emb(i)), 4); p += 4
    }
    (schemaMsg, batchMsg, body)
  }

  /** Shared assembly for the (id, text) shape: buffers are
    * [id validity (len 0 = all valid)][id data][text validity (0)]
    * [int32 offsets][utf8 data], two field nodes. */
  private def buildTextParts(ids: Array[Long], texts: Array[String])
      : (Array[Byte], Array[Byte], Array[Byte]) = {
    val n = ids.length
    require(texts.length == n, s"texts ${texts.length} != ids $n")
    val raw = texts.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var tlen = 0L
    raw.foreach(r => tlen += r.length)
    require(tlen <= Int.MaxValue / 2, s"text bytes $tlen")
    val idBytes = 8 * n
    val offBytes = 4 * (n + 1)
    val offAt = pad8(idBytes)
    val datAt = offAt + pad8(offBytes)
    val bodyLen = datAt + pad8(tlen.toInt)
    val bufOffs = Array(0L, 0L, offAt.toLong, offAt.toLong, datAt.toLong)
    val bufLens = Array(0L, idBytes.toLong, 0L, offBytes.toLong, tlen)

    val schemaMsg = encapsulate(messageFb(1, 0)(textSchemaTable))
    val batchMsg = encapsulate(messageFb(3, bodyLen.toLong) { b =>
      val bufRaw = new Array[Byte](16 * 5)
      for (i <- 0 until 5) {
        Bytes.putLe(bufRaw, 16 * i, bufOffs(i), 8); Bytes.putLe(bufRaw, 16 * i + 8, bufLens(i), 8)
      }
      val buffers = b.createRawVector(5, 8, bufRaw)
      val nodeRaw = new Array[Byte](16 * 2)
      Bytes.putLe(nodeRaw, 0, n, 8); Bytes.putLe(nodeRaw, 16, n, 8)
      val nodes = b.createRawVector(2, 8, nodeRaw)
      b.startTable(4)
      b.slotI64(0, n.toLong, 0)
      b.slotOff(1, nodes)
      b.slotOff(2, buffers)
      b.endTable()
    })

    val body = new Array[Byte](bodyLen)
    var p = 0
    for (i <- 0 until n) { Bytes.putLe(body, p, ids(i), 8); p += 8 }
    p = offAt
    var acc = 0
    for (i <- 0 to n) {
      Bytes.putLe(body, p, acc, 4); p += 4
      if (i < n) acc += raw(i).length
    }
    p = datAt
    raw.foreach { r => System.arraycopy(r, 0, body, p, r.length); p += r.length }
    (schemaMsg, batchMsg, body)
  }

  /** (id, text) shard in the IPC FILE framing — the HF-bound text
    * export; pyarrow-readable, cross-validated in arrow_golden.py. */
  def encodeTextFile(ids: Array[Long], texts: Array[String]): Array[Byte] = {
    val (schemaMsg, batchMsg, body) = buildTextParts(ids, texts)
    val batchOffset = 8 + schemaMsg.length
    val footerFb = {
      val b = new Fbb()
      val schema = textSchemaTable(b)
      val blockRaw = new Array[Byte](24)
      Bytes.putLe(blockRaw, 0, batchOffset, 8)
      Bytes.putLe(blockRaw, 8, batchMsg.length, 4)
      Bytes.putLe(blockRaw, 16, body.length, 8)
      val blocks = b.createRawVector(1, 8, blockRaw)
      b.startTable(5)
      b.slotI16(0, 4, 0)
      b.slotOff(1, schema)
      b.slotOff(3, blocks)
      b.finish(b.endTable())
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write("ARROW1".getBytes); out.write(0); out.write(0)
    out.write(schemaMsg)
    out.write(batchMsg)
    out.write(body)
    out.write(footerFb)
    out.write(Bytes.le(footerFb.length, 4))
    out.write("ARROW1".getBytes)
    out.toByteArray
  }

  /** One shard in the IPC STREAM framing — the HuggingFace-datasets
    * cache shape: schema message, one record batch, end-of-stream
    * marker; no footer, readable by `pyarrow.ipc.open_stream`. */
  def encodeStream(ids: Array[Long], emb: Array[Float], dim: Int): Array[Byte] = {
    val (schemaMsg, batchMsg, body) = buildParts(ids, emb, dim)
    val out = new java.io.ByteArrayOutputStream()
    out.write(schemaMsg)
    out.write(batchMsg)
    out.write(body)
    out.write(Array[Byte](-1, -1, -1, -1, 0, 0, 0, 0)) // EOS
    out.toByteArray
  }

  /** One shard: ids + row-major embeddings → complete `.arrow` file
    * bytes (magic, schema message, one record batch, footer). */
  def encodeFile(ids: Array[Long], emb: Array[Float], dim: Int): Array[Byte] = {
    val (schemaMsg, batchMsg, body) = buildParts(ids, emb, dim)
    val bodyLen = body.length

    val batchOffset = 8 + schemaMsg.length
    val footerFb = {
      val b = new Fbb()
      val schema = schemaTable(b, dim)
      val blockRaw = new Array[Byte](24)
      Bytes.putLe(blockRaw, 0, batchOffset, 8)
      Bytes.putLe(blockRaw, 8, batchMsg.length, 4)
      Bytes.putLe(blockRaw, 16, bodyLen, 8)
      val blocks = b.createRawVector(1, 8, blockRaw)
      b.startTable(5) // Footer: version(0) schema(1) dictionaries(2) recordBatches(3)
      b.slotI16(0, 4, 0)
      b.slotOff(1, schema)
      b.slotOff(3, blocks)
      b.finish(b.endTable())
    }

    val out = new java.io.ByteArrayOutputStream()
    out.write("ARROW1".getBytes); out.write(0); out.write(0)
    out.write(schemaMsg)
    out.write(batchMsg)
    out.write(body)
    out.write(footerFb)
    out.write(Bytes.le(footerFb.length, 4))
    out.write("ARROW1".getBytes)
    out.toByteArray
  }
}
