package graft.sources

import Bytes._

/** Arrow IPC codec — the columnar interchange format dataset tooling
  * actually trades: Feather V2 exports (IPC FILE format, trailing
  * footer) and the HuggingFace-datasets cache shape (IPC STREAM
  * format, sequential encapsulated messages). The reference moves
  * tabular artifacts as npy/h5/csv (dataops/dataset.py); Arrow is the
  * same columns-in-one-object idea with a zero-copy layout — the
  * trailing footer of the file format is what makes it range-read
  * friendly on an object store, exactly like ZIP's central directory.
  *
  * Everything is decoded from the public format specification: the
  * flatbuffers tables (Footer/Schema/Field/Message/RecordBatch — a
  * from-scratch vtable walker, no flatbuffers library), the
  * encapsulated-message framing (0xFFFFFFFF continuation + metadata
  * length + body), and the per-column buffer layout (validity bitmap,
  * offsets, data, in depth-first field order). Fixtures are written
  * by pyarrow — the format's reference implementation — so two
  * independent implementations meet over the wire.
  *
  * Envelope: Int 8/16/32/64 (signed+unsigned), FloatingPoint
  * half/single/double, Bool, Utf8/Binary (and their Large forms with
  * 64-bit offsets), FixedSizeBinary, Decimal 128/256 (rendered as a
  * plain scaled decimal string — 128 bits can't ride the 64-bit bits
  * channel), Date 32/64, Time 32/64, Timestamp (all four units, with
  * or without a timezone — the label carries both), Duration,
  * List and FixedSizeList of any scalar leaf (utf8/binary included),
  * Struct of scalar children (one parent-nullity cell per row plus
  * per-child columns named `parent.child`, children reading as null
  * wherever the parent slot is null — their bytes are undefined
  * there) — including STRUCT children to depth 2 (the nested
  * metadata/config structs HF shards carry: `meta.cfg.opt.lr` dotted
  * paths, each level's nullity cell gated on its ancestors,
  * struct<struct<struct<scalars>>> the deepest shape; struct kids
  * nest under STRUCT parents only), plus the HF-datasets
  * nested-feature shapes:
  * List<Struct<scalars>> (sequence-of-dict, e.g. SQuAD-v2 answers —
  * one struct cell per ELEMENT plus per-kid cells at that element
  * index), Struct with List<scalar> children (the SQuAD-v1
  * `answers: {text: [..], answer_start: [..]}` shape),
  * List<List<scalar>> / List<FixedSizeList<scalar>> (tokenized-batch
  * input-id caches and ragged embedding grids — elem carries the
  * outer index, elem2 the inner), triply-nested
  * List<List<List<scalar>>> / List<List<FixedSizeList<scalar>>>
  * (per-span sub-lists inside batched sequences, coordinate-pair
  * grids — elem/elem2/elem3 index the three levels, a null list at
  * any level one cell carrying that level's vtype), and the depth-3
  * List<Struct<… with List<scalar>/FixedSizeList<scalar> fields …>>
  * (ragged per-element sequences inside sequence-of-dict, e.g.
  * per-answer token spans — elem is the struct element index, elem2
  * the inner list index, a null inner list one elem2-less cell);
  * Map (physically List<Struct<key,value>>, emitted like
  * list<struct> under the "map" vtype — values may themselves be
  * list<scalar>, the config-blob HF metadata shape, with elem2 as
  * the value-list index); dictionary-encoded columns
  * over any of the scalar types (pandas-categorical exports
  * dictionary-encode BY DEFAULT — indices of any Int width map
  * through the DictionaryBatch-delivered value column, replacement
  * dictionaries honored in stream order and DELTA batches appended);
  * compressed bodies (BodyCompression) for the two spec codecs
  * LZ4_FRAME — pyarrow Feather V2's DEFAULT — and ZSTD, each buffer
  * carrying its own int64 uncompressed-length prefix (-1 = stored
  * raw), decompressed under [[MaxBufBytes]].
  * Null columns (zero-buffer, all-null by type — the HF-shard shape
  * where a feature has no values) and top-level RunEndEncoded columns
  * (runs expand to their logical values) decode natively.
  * Top-level sparse and dense unions of scalar branches decode (one
  * cell per slot from the child its type id selects), as do
  * top-level LargeList columns over scalar leaves (64-bit offsets —
  * the HF token-array shape past the 2^31-element shard line) and
  * top-level Utf8View/BinaryView columns (the 16-byte view structs
  * arrow-rs/polars write by default since the StringView migration:
  * inline data at length <= 12, else prefix + variadic-buffer
  * index/offset, with RecordBatch.variadicBufferCounts walked and
  * the prefix-mirror invariant verified).
  * Documented refusals, all whole-file (a columnar table is
  * all-or-nothing): dictionary-of-nested, a delta dictionary with no
  * prior table, non-top-level or nested-branch unions, NESTED view
  * columns (list<string_view> etc.) and ListView/LargeListView,
  * YEAR_MONTH/DAY_TIME intervals
  * (MonthDayNano — the form pyarrow writes — decodes as 16 hex
  * bytes), nested or
  * dictionary-encoded RunEndEncoded, nesting beyond the supported
  * shapes (struct past depth 2, a list or struct inside a struct kid
  * under list<struct> or map, list nesting past three levels, lists
  * under non-top-level structs deeper than list<scalar>, map values
  * nested deeper than list<scalar> / struct<scalars>), trailing
  * bytes after a stream's end-of-stream
  * marker. Values emit as raw
  * little-endian bits zero-extended to a long (bit-exact NaN
  * payloads), strings as UTF-8, binary as lowercase hex. Never
  * throws.
  */
object ArrowCodec {

  /** One value cell. For list columns: a NULL list is a single row
    * with `elem` null carrying the COLUMN vtype; elements carry the
    * leaf vtype and their element index. For list<list<…>> columns
    * `elem` is the OUTER index and `elem2` the inner one — a null
    * inner list is a single row with `elem2` null carrying the inner
    * list vtype. */
  case class Cell(batch: Int, col: String, row: Long, elem: Option[Long],
      vtype: String, isNull: Boolean, bits: Option[Long], str: Option[String],
      elem2: Option[Long] = None, elem3: Option[Long] = None)

  val MaxCells: Long = 4L << 20
  val MaxBatches: Int = 65536
  val MaxFields: Int = 4096
  val MaxMetaBytes: Int = 1 << 20
  /** Per-buffer decompressed ceiling (the codecs' MaxInflatedBytes
    * stance): a compressed buffer declaring more refuses the file. */
  val MaxBufBytes: Long = GzipCodec.MaxInflatedBytes.toLong

  /** Decode a `.arrow` object in either IPC framing, or None on any
    * structural fault or envelope refusal. Never throws. */
  def decode(bytes: Array[Byte]): Option[Vector[Cell]] =
    refusing {
      if (bytes.length >= 12 && hasMagic(bytes, 0) &&
          bytes(6) == 0 && bytes(7) == 0) decodeFile(bytes)
      else decodeStream(bytes)
    }.flatten

  private def hasMagic(b: Array[Byte], p: Int): Boolean =
    b.length >= p + 6 && b(p) == 'A' && b(p + 1) == 'R' && b(p + 2) == 'R' &&
      b(p + 3) == 'O' && b(p + 4) == 'W' && b(p + 5) == '1'

  // ---- minimal flatbuffers vtable walk -------------------------------

  /** Absolute position of table field `id`, or -1 if absent. */
  private def field(b: Array[Byte], tpos: Long, id: Int): Long = {
    val vt = tpos - le32(b, tpos).toInt
    if (vt < 0) refuse()
    val vtSize = leN(b, vt, 2)
    val slot = 4 + 2 * id
    if (slot + 2 > vtSize) -1L
    else {
      val fo = leN(b, vt + slot, 2)
      if (fo == 0) -1L else tpos + fo
    }
  }
  /** Follow a table/string/vector offset field to its target. */
  private def indirect(b: Array[Byte], p: Long): Long = {
    val t = p + le32(b, p)
    if (t < 0 || t > b.length) refuse()
    t
  }
  private def str(b: Array[Byte], p: Long): String = {
    val t = indirect(b, p)
    val n = le32(b, t)
    if (n > MaxMetaBytes || t + 4 + n > b.length) refuse()
    new String(b, (t + 4).toInt, n.toInt, java.nio.charset.StandardCharsets.UTF_8)
  }
  /** (element count, absolute position of element 0). */
  private def vec(b: Array[Byte], p: Long, stride: Int): (Long, Long) = {
    val t = indirect(b, p)
    val n = le32(b, t)
    if (n * stride + t + 4 > b.length) refuse()
    (n, t + 4)
  }

  // ---- schema ---------------------------------------------------------

  private sealed trait Typ { def label: String }
  private case class Prim(label: String, width: Int) extends Typ // LE fixed width
  private case object BoolT extends Typ { val label = "bool" }
  private case class VarBytes(label: String, offw: Int) extends Typ // utf8/bin (+Large: 8-byte offsets)
  private case class FixedBytes(width: Int, label: String) extends Typ // fixed_size_binary
  /** Decimal128/256: `width` bytes of LE two's-complement unscaled
    * value per slot, rendered as a plain decimal string (a 128-bit
    * value can't ride the 64-bit `bits` channel). */
  private case class DecT(width: Int, scale: Int, label: String) extends Typ
  /** List (fixed = 0) or FixedSizeList (fixed = N) of any SCALAR leaf
    * — or of a struct of scalars (the HF-datasets sequence-of-dict
    * feature shape, e.g. SQuAD answers). */
  private case class ListT(child: Typ, fixed: Int, label: String) extends Typ
  /** Struct whose children are scalars or lists of scalars (the
    * SQuAD-v1 `answers: {text: [..], answer_start: [..]}` shape): one
    * parent validity node, then each child as a full column gated on
    * parent validity. */
  private case class StructT(children: Vector[FieldSpec], label: String)
    extends Typ
  /** Null type: every slot null by construction. The layout has ZERO
    * buffers (not even validity) — routine in HF-datasets caches
    * where a feature had no values in a shard. */
  private case object NullT extends Typ { val label = "null" }
  /** RunEndEncoded: run_ends child (int 16/32/64, `runW` bytes) +
    * values child of any scalar type; the parent array itself has no
    * buffers, runs expand to their logical values on decode. */
  private case class RunEndT(values: Typ, runW: Int, label: String)
    extends Typ
  /** LargeList (64-bit offsets) of a SCALAR leaf, top-level only —
    * the HF-datasets shape for token arrays whose shard-total element
    * count can exceed 2^31. Same cell convention as `list<scalar>`. */
  private case class LargeListT(child: Typ, label: String) extends Typ
  /** Sparse/dense union of SCALAR children (top-level only): a type-id
    * buffer (int8 per slot; no validity — union nullability lives in
    * the children per the post-1.0 spec), plus a 32-bit offsets buffer
    * when dense. `typeIds(i)` is the type id announcing child i. */
  private case class UnionT(children: Vector[FieldSpec], typeIds: Vector[Int],
      dense: Boolean, label: String) extends Typ
  /** ListView/LargeListView (top-level only) of a SCALAR leaf:
    * validity + offsets + SIZES buffers (offsets need not be ordered
    * and ranges may overlap — the layout Velox-style engines export).
    * Cell convention identical to `list<scalar>`. */
  private case class ListViewT(child: Typ, offw: Int, label: String)
    extends Typ
  /** Utf8View/BinaryView (top-level only): 16-byte view structs —
    * int32 length, then either 12 inline bytes (length <= 12) or a
    * 4-byte prefix + int32 (buffer index, offset) into one of the
    * batch's variadic data buffers (RecordBatch.variadicBufferCounts
    * announces how many). The layout arrow-rs/polars write by default
    * since the StringView migration. */
  private case class ViewBytes(label: String) extends Typ

  /** A flat value type: rides one node + (validity, data…) buffers. */
  private def isScalar(t: Typ): Boolean = t match {
    case _: ListT | _: StructT | NullT | _: RunEndT | _: UnionT |
         _: LargeListT | _: ViewBytes | _: ListViewT => false
    case _ => true
  }

  /** TimeUnit enum (Schema.fbs): SECOND MILLISECOND MICROSECOND
    * NANOSECOND → the label suffix. */
  private def unitName(u: Int): String = u match {
    case 0 => "s"
    case 1 => "ms"
    case 2 => "us"
    case 3 => "ns"
    case _ => refuse()
  }

  /** Dictionary encoding of a field: dictionary id + index width in
    * bytes + index signedness (DictionaryEncoding.indexType; absent
    * defaults to int32 signed per the spec). */
  private case class Dict(id: Long, w: Int, signed: Boolean)

  private case class FieldSpec(name: String, typ: Typ, dict: Option[Dict])

  /** Parse a Field table (Schema.fbs): name(0) nullable(1)
    * type_type(2) type(3) dictionary(4) children(5). */
  private def parseField(b: Array[Byte], fpos: Long, depth: Int): FieldSpec = {
    val namePos = field(b, fpos, 0)
    if (namePos < 0) refuse()
    val name = str(b, namePos)
    // DictionaryEncoding: id(0) indexType(1) isOrdered(2)
    val dict = field(b, fpos, 4) match {
      case dp if dp < 0 => None
      case dp =>
        val dt = indirect(b, dp)
        val idPos = field(b, dt, 0)
        val id = if (idPos < 0) 0L else le64(b, idPos)
        val itPos = field(b, dt, 1)
        val (w, signed) =
          if (itPos < 0) (4, true)
          else {
            val t = indirect(b, itPos)
            val bwPos = field(b, t, 0)
            val bw = if (bwPos < 0) 0 else le32(b, bwPos).toInt
            val sgPos = field(b, t, 1)
            if (bw != 8 && bw != 16 && bw != 32 && bw != 64) refuse()
            (bw / 8, sgPos >= 0 && u8(b, sgPos) != 0)
          }
        Some(Dict(id, w, signed))
    }
    val ttPos = field(b, fpos, 2)
    val tt = if (ttPos < 0) 0 else u8(b, ttPos)
    val tvPos = field(b, fpos, 3)
    def typeTable: Long = { if (tvPos < 0) refuse(); indirect(b, tvPos) }
    def childField(i: Int): Long = {
      val ch = field(b, fpos, 5)
      if (ch < 0) refuse()
      val (n, at) = vec(b, ch, 4)
      if (i >= n) refuse()
      indirect(b, at + 4L * i)
    }
    val typ: Typ = tt match {
      case 1 => NullT // Null: no type fields, no buffers
      case 2 => // Int: bitWidth(0) is_signed(1)
        val t = typeTable
        val bwPos = field(b, t, 0)
        val bw = if (bwPos < 0) 0 else le32(b, bwPos).toInt
        val sgPos = field(b, t, 1)
        val signed = sgPos >= 0 && u8(b, sgPos) != 0
        if (bw != 8 && bw != 16 && bw != 32 && bw != 64) refuse()
        Prim((if (signed) "i" else "u") + bw, bw / 8)
      case 3 => // FloatingPoint: precision(0) 0=half 1=single 2=double
        // HALF is the enum's zero value, so flatbuffers OMITS the
        // field for f16 — absent means half, not malformed
        val t = typeTable
        val prPos = field(b, t, 0)
        (if (prPos < 0) 0 else le16(b, prPos).toShort.toInt) match {
          case 0 => Prim("f16", 2)
          case 1 => Prim("f32", 4)
          case 2 => Prim("f64", 8)
          case _ => refuse()
        }
      case 4 => VarBytes("bin", 4)
      case 5 => VarBytes("utf8", 4)
      case 6 => BoolT
      case 7 => // Decimal: precision(0) scale(1) bitWidth(2, default 128)
        val t = typeTable
        val prPos = field(b, t, 0)
        val pr = if (prPos < 0) 0 else le32(b, prPos).toInt
        val scPos = field(b, t, 1)
        val sc = if (scPos < 0) 0 else le32(b, scPos).toInt
        val bwPos = field(b, t, 2)
        val bw = if (bwPos < 0) 128 else le32(b, bwPos).toInt
        if (bw != 128 && bw != 256) refuse()
        if (pr < 1 || pr > 76 || sc < -256 || sc > 256) refuse()
        DecT(bw / 8, sc, s"dec${bw}_${pr}_$sc")
      case 8 => // Date: unit(0) 0=DAY(i32 days) 1=MILLISECOND(i64 ms);
        // the flatbuffers DEFAULT is MILLISECOND, so date64 fields are
        // written WITHOUT the unit slot — absent means 1, not 0
        (field(b, typeTable, 0) match {
          case x if x < 0 => 1
          case x => le16(b, x).toShort.toInt
        }) match {
          case 0 => Prim("date32", 4)
          case 1 => Prim("date64", 8)
          case _ => refuse()
        }
      case 9 => // Time: unit(0, default MILLISECOND) bitWidth(1, default 32)
        val t = typeTable
        val uPos = field(b, t, 0)
        val u = if (uPos < 0) 1 else le16(b, uPos).toShort.toInt
        val bwPos = field(b, t, 1)
        val bw = if (bwPos < 0) 32 else le32(b, bwPos).toInt
        // the spec pairs 32-bit with s/ms and 64-bit with us/ns
        if (bw == 32 && (u == 0 || u == 1)) Prim(s"time32_${unitName(u)}", 4)
        else if (bw == 64 && (u == 2 || u == 3)) Prim(s"time64_${unitName(u)}", 8)
        else refuse()
      case 10 => // Timestamp: unit(0, default SECOND) timezone(1)
        val t = typeTable
        val uPos = field(b, t, 0)
        val u = if (uPos < 0) 0 else le16(b, uPos).toShort.toInt
        if (u < 0 || u > 3) refuse()
        val tzPos = field(b, t, 1)
        val tz = if (tzPos < 0) "" else str(b, tzPos)
        if (tz.length > 64) refuse()
        Prim(s"ts_${unitName(u)}" + (if (tz.isEmpty) "" else s"[$tz]"), 8)
      case 11 => // Interval: unit(0, default YEAR_MONTH). Only the
        // MonthDayNano form is in envelope — it is the one modern
        // pyarrow constructs and writes; YEAR_MONTH/DAY_TIME have no
        // pyarrow array constructor and no corpus presence, so they
        // keep refusing. Elements are 16 LE bytes (months i32 +
        // days i32 + nanos i64), emitted as hex like fixed binary.
        val uPos = field(b, typeTable, 0)
        val u = if (uPos < 0) 0 else le16(b, uPos).toShort.toInt
        if (u != 2) refuse()
        FixedBytes(16, "interval_mdn")
      case 12 => // List
        if (depth > 2) refuse()
        val child = parseField(b, childField(0), depth + 1)
        if (child.dict.isDefined) refuse() // dictionary-encoded list child: refuse
        child.typ match {
          case st: StructT if depth == 0 &&
              st.children.forall(k => isScalar(k.typ) || (k.typ match {
                case ListT(c, _, _) => isScalar(c) // list<struct<list<scalar>>>
                case StructT(gk, _) => // list<struct<…, struct<scalars>>> —
                  // the list-of-records-with-a-nested-record HF shape
                  gk.forall(g => isScalar(g.typ))
                case _ => false
              })) =>
            ListT(st, 0, "list<struct>")
          case lt: ListT if depth == 0 && isScalar(lt.child) =>
            // list<list<scalar>> / list<fsl<scalar>>: the tokenized-
            // batch HF cache shape (elem = outer, elem2 = inner)
            ListT(lt, 0, s"list<${lt.label}>")
          case lt: ListT if depth == 0 && (lt.child match {
              case l2: ListT => isScalar(l2.child)
              case _ => false
            }) =>
            // list<list<list<scalar>>> / list<list<fsl<scalar>>>:
            // batched token sequences with per-span sub-lists, ragged
            // coordinate-pair grids (elem/elem2/elem3 = the 3 levels)
            ListT(lt, 0, s"list<${lt.label}>")
          case l2: ListT if depth == 1 && isScalar(l2.child) =>
            // the MIDDLE list of a triply-nested column (only a
            // depth-0 list parent can reach here: struct/list<struct>/
            // map kid guards all require scalar-leafed lists)
            ListT(l2, 0, s"list<${l2.label}>")
          case t if isScalar(t) => ListT(t, 0, s"list<${t.label}>")
          case _ => refuse() // nesting past three list levels: refuse
        }
      case 13 => // Struct: scalar children, list-of-scalar children
        // (at depth <= 1), and STRUCT children — the nested metadata/
        // config structs HF shards carry — bounded at depth 2, so
        // struct<struct<struct<scalars>>> is the deepest shape.
        // Under list<struct> and map parents (cases 12/17) a struct
        // kid is accepted when its own children are ALL scalar — the
        // list-of-records-with-a-nested-record shape; deeper nesting
        // there (a list or struct inside that kid) still refuses.
        if (depth > 2) refuse()
        val ch = field(b, fpos, 5)
        if (ch < 0) refuse()
        val (nc, _) = vec(b, ch, 4)
        if (nc < 1 || nc > 256) refuse()
        val kids = (0L until nc).map(i =>
          parseField(b, childField(i.toInt), depth + 1)).toVector
        kids.foreach { k =>
          if (k.dict.isDefined) refuse() // dictionary-encoded child: refuse
          k.typ match {
            case _: StructT => () // validated by its own parseField pass
            case ListT(c, _, _) if depth <= 1 && isScalar(c) => ()
            case _: ListT => refuse()
            case _ => ()
          }
        }
        StructT(kids, "struct")
      case 14 => // Union: mode(0, default Sparse) typeIds(1). Scalar
        // branches at top level only — the mixed-type feature column
        // shape (e.g. an int-or-string id). The union array itself has
        // NO validity bitmap (post-1.0 spec): null slots are null
        // CHILD slots, so each cell gates on the selected child.
        if (depth > 0) refuse()
        val t = typeTable
        val mPos = field(b, t, 0)
        val dense = (if (mPos < 0) 0 else le16(b, mPos).toShort.toInt) match {
          case 0 => false
          case 1 => true
          case _ => refuse()
        }
        val ch = field(b, fpos, 5)
        if (ch < 0) refuse()
        val (nc, _) = vec(b, ch, 4)
        if (nc < 1 || nc > 64) refuse()
        val kids = (0L until nc).map(i =>
          parseField(b, childField(i.toInt), depth + 1)).toVector
        kids.foreach(k => if (k.dict.isDefined || !isScalar(k.typ)) refuse())
        val tPos = field(b, t, 1)
        val tids: Vector[Int] =
          if (tPos < 0) (0 until nc.toInt).toVector
          else {
            val (n, at) = vec(b, tPos, 4)
            if (n != nc) refuse()
            (0L until n).map(i => le32(b, at + 4 * i).toInt).toVector
          }
        if (tids.exists(x => x < 0 || x > 127) ||
            tids.distinct.size != tids.size) refuse()
        UnionT(kids, tids, dense, if (dense) "union_dense" else "union_sparse")
      case 15 => // FixedSizeBinary: byteWidth(0)
        val bwPos = field(b, typeTable, 0)
        if (bwPos < 0) refuse()
        val w = le32(b, bwPos).toInt
        if (w <= 0 || w > 65536) refuse()
        FixedBytes(w, s"fsb$w")
      case 16 => // FixedSizeList: listSize(0)
        if (depth > 2) refuse()
        val lsPos = field(b, typeTable, 0)
        val ls = if (lsPos < 0) refuse() else le32(b, lsPos).toInt
        if (ls <= 0 || ls > 65536) refuse()
        val child = parseField(b, childField(0), depth + 1)
        if (child.dict.isDefined) refuse()
        child.typ match {
          case t if isScalar(t) => ListT(t, ls, s"fsl$ls<${t.label}>")
          case _ => refuse()
        }
      case 17 => // Map: physically List<Struct<key, value>> — one
        // "entries" child struct whose kids are the key/value fields
        // (keysSorted is irrelevant to decode). Emitted exactly like
        // list<struct>: a struct cell per entry + per-kid cells.
        if (depth > 0) refuse()
        val entries = parseField(b, childField(0), depth + 1)
        if (entries.dict.isDefined) refuse()
        entries.typ match {
          case st: StructT if st.children.size == 2 &&
              isScalar(st.children(0).typ) &&
              (isScalar(st.children(1).typ) || (st.children(1).typ match {
                case ListT(c, _, _) => isScalar(c) // map<k, list<scalar>>
                case StructT(gk, _) => // map<k, struct<scalars>>
                  gk.forall(g => isScalar(g.typ))
                case _ => false
              })) =>
            ListT(st, 0, "map")
          case _ => refuse() // deeper-nested map values: refuse
        }
      case 18 => // Duration: unit(0, default MILLISECOND), always 64-bit
        val uPos = field(b, typeTable, 0)
        val u = if (uPos < 0) 1 else le16(b, uPos).toShort.toInt
        if (u < 0 || u > 3) refuse()
        Prim(s"dur_${unitName(u)}", 8)
      case 19 => VarBytes("lbin", 8)  // LargeBinary: 64-bit offsets
      case 20 => VarBytes("lutf8", 8) // LargeUtf8: 64-bit offsets
      case 21 => // LargeList: 64-bit offsets, scalar leaf, top level
        // only — HF token arrays past the 2^31-element shard line
        if (depth > 0) refuse()
        val child = parseField(b, childField(0), depth + 1)
        if (child.dict.isDefined) refuse()
        child.typ match {
          case t if isScalar(t) => LargeListT(t, s"llist<${t.label}>")
          case _ => refuse() // nested large-list child: refuse
        }
      case 22 => // RunEndEncoded: run_ends(child 0) + values(child 1)
        if (depth > 0) refuse() // top-level REE only
        val re = parseField(b, childField(0), depth + 1)
        if (re.dict.isDefined) refuse()
        val runW = re.typ match {
          // the spec restricts run ends to SIGNED 16/32/64-bit ints
          case Prim("i16", w) => w
          case Prim("i32", w) => w
          case Prim("i64", w) => w
          case _ => refuse()
        }
        val vf = parseField(b, childField(1), depth + 1)
        if (vf.dict.isDefined || !isScalar(vf.typ)) refuse()
        RunEndT(vf.typ, runW, s"ree<${vf.typ.label}>")
      case 25 | 26 => // ListView / LargeListView: offsets + sizes
        if (depth > 0) refuse() // top-level views only
        val offw = if (tt == 25) 4 else 8
        val child = parseField(b, childField(0), depth + 1)
        if (child.dict.isDefined) refuse()
        child.typ match {
          case t if isScalar(t) =>
            ListViewT(t, offw,
              s"${if (offw == 4) "lview" else "llview"}<${t.label}>")
          case _ => refuse() // nested list-view child: refuse
        }
      case 23 => // BinaryView
        if (depth > 0) refuse() // top-level views only
        ViewBytes("binview")
      case 24 => // Utf8View
        if (depth > 0) refuse() // top-level views only
        ViewBytes("utf8view")
      case _ => refuse() // ListView/LargeListView/...: refuse
    }
    if (dict.isDefined && !isScalar(typ))
      refuse() // dict-of-nested/null/ree: refuse
    FieldSpec(name, typ, dict)
  }

  /** Parse a Schema table: fields(1). */
  private def parseSchema(b: Array[Byte], spos: Long): Vector[FieldSpec] = {
    val fPos = field(b, spos, 1)
    if (fPos < 0) refuse()
    val (n, at) = vec(b, fPos, 4)
    if (n > MaxFields) refuse()
    (0L until n).map(i => parseField(b, indirect(b, at + 4 * i), 0)).toVector
  }

  // ---- record batch ---------------------------------------------------

  /** One constituent buffer: a window into the message body, or a
    * freshly decompressed array when the batch carries
    * BodyCompression. Every read is bounds-checked against the
    * WINDOW, not the backing array — an uncompressed slice must not
    * silently read its neighbor buffer. */
  private case class Buf(a: Array[Byte], at: Long, len: Long)

  private def bu8(x: Buf, i: Long): Int = {
    if (i < 0 || i + 1 > x.len) refuse()
    u8(x.a, x.at + i)
  }
  private def buN(x: Buf, i: Long, n: Int): Long = {
    if (i < 0 || i + n > x.len) refuse()
    leN(x.a, x.at + i, n)
  }

  /** Decompress one buffer body per the spec codec enum:
    * 0 = LZ4_FRAME (the LZ4 frame format, pyarrow Feather V2's
    * default), 1 = ZSTD. Exact-length contract: the produced bytes
    * must be exactly `ulen` with no trailing frame data. */
  private def decompress(b: Array[Byte], at: Long, clen: Long, ulen: Long,
      zstd: Boolean): Array[Byte] = {
    if (clen < 0 || at < 0 || at + clen > b.length) refuse()
    if (ulen < 0 || ulen > MaxBufBytes) refuse()
    val src = java.util.Arrays.copyOfRange(b, at.toInt, (at + clen).toInt)
    val dst = new Array[Byte](ulen.toInt)
    try {
      if (zstd) {
        val n = com.github.luben.zstd.Zstd.decompressByteArray(
          dst, 0, dst.length, src, 0, src.length)
        if (n != dst.length) refuse()
      } else {
        val in = new net.jpountz.lz4.LZ4FrameInputStream(
          new java.io.ByteArrayInputStream(src))
        try {
          var done = 0
          var n = 0
          while (done < dst.length && n >= 0) {
            n = in.read(dst, done, dst.length - done)
            if (n > 0) done += n
          }
          if (done != dst.length || in.read() != -1) refuse()
        } finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => refuse() }
    dst
  }

  /** Decode one RecordBatch message body into cells. */
  private def decodeBatch(b: Array[Byte], rbPos: Long, bodyAt: Long,
      bodyLen: Long, fields: Vector[FieldSpec], batchIdx: Int,
      dicts: scala.collection.Map[Long, Vector[Cell]],
      out: scala.collection.mutable.ArrayBuffer[Cell]): Unit = {
    // BodyCompression(3): codec(0) 0=LZ4_FRAME 1=ZSTD; method(1) 0=BUFFER
    val comp: Option[Boolean] = field(b, rbPos, 3) match {
      case cp if cp < 0 => None
      case cp =>
        val ct = indirect(b, cp)
        val cdPos = field(b, ct, 0)
        val codec = if (cdPos < 0) 0 else u8(b, cdPos)
        val mPos = field(b, ct, 1)
        if (mPos >= 0 && u8(b, mPos) != 0) refuse() // only BUFFER method exists
        codec match {
          case 0 => Some(false) // LZ4_FRAME
          case 1 => Some(true)  // ZSTD
          case _ => refuse()
        }
    }
    val lenPos = field(b, rbPos, 0)
    val rows = if (lenPos < 0) 0L else le64(b, lenPos)
    if (rows < 0 || rows > MaxCells) refuse()
    val nodesPos = field(b, rbPos, 1)
    val bufsPos = field(b, rbPos, 2)
    if (nodesPos < 0 || bufsPos < 0) refuse()
    val (nNodes, nodesAt) = vec(b, nodesPos, 16)
    val (nBufs, bufsAt) = vec(b, bufsPos, 16)
    // variadicBufferCounts(4): one int64 per view-typed array, in
    // buffer order — announces how many variadic data buffers follow
    // that array's views buffer
    val (nVbc, vbcAt) = field(b, rbPos, 4) match {
      case p if p < 0 => (0L, -1L)
      case p => vec(b, p, 8)
    }
    var ni = 0L
    var bi = 0L
    var vci = 0L
    def nextVariadic(): Long = {
      if (vci >= nVbc) refuse()
      val n = le64(b, vbcAt + 8 * vci); vci += 1
      if (n < 0 || n > nBufs) refuse()
      n
    }
    def nextNode(): (Long, Long) = {
      if (ni >= nNodes) refuse()
      val p = nodesAt + 16 * ni; ni += 1
      (le64(b, p), le64(b, p + 8)) // (length, null_count)
    }
    def nextBuf(): Buf = {
      if (bi >= nBufs) refuse()
      val p = bufsAt + 16 * bi; bi += 1
      val off = le64(b, p); val len = le64(b, p + 8)
      if (off < 0 || len < 0 || off + len > bodyLen) refuse()
      val at = bodyAt + off
      comp match {
        case None => Buf(b, at, len)
        case Some(_) if len == 0 => Buf(b, at, 0)
        case Some(z) =>
          // int64 uncompressed-length prefix; -1 = stored uncompressed
          if (len < 8) refuse()
          val ulen = le64(b, at)
          if (ulen == -1L) Buf(b, at + 8, len - 8)
          else {
            val d = decompress(b, at + 8, len - 8, ulen, z)
            Buf(d, 0, d.length.toLong)
          }
      }
    }
    // validity bitmap reader; a zero-length buffer means all-valid
    def valid(buf: Buf): Long => Boolean = {
      if (buf.len == 0) _ => true
      else i => (bu8(buf, i / 8) >> (i % 8).toInt & 1) == 1
    }
    def bitsAt(buf: Buf, width: Int, i: Long): Long = buN(buf, i * width, width)
    def boolAt(buf: Buf, i: Long): Long =
      (bu8(buf, i / 8) >> (i % 8).toInt & 1).toLong
    if (out.size + rows * fields.size > MaxCells) refuse()

    for (f <- fields) if (f.dict.isDefined) {
      // dictionary-encoded column: one node, validity + index buffer;
      // each index maps through the DictionaryBatch-delivered values
      val d = f.dict.get
      val dictVals = dicts.getOrElse(d.id, refuse())
      val (len, _) = nextNode()
      if (len != rows) refuse()
      val v = valid(nextBuf())
      val idx = nextBuf()
      var i = 0L
      while (i < len) {
        if (!v(i))
          out += Cell(batchIdx, f.name, i, None, f.typ.label, isNull = true, None, None)
        else {
          var k = buN(idx, i * d.w, d.w)
          if (d.signed && d.w < 8) {
            val sh = 64 - 8 * d.w
            k = (k << sh) >> sh
          }
          if (k < 0 || k >= dictVals.size) refuse()
          val dv = dictVals(k.toInt)
          out += Cell(batchIdx, f.name, i, None, dv.vtype, dv.isNull, dv.bits, dv.str)
        }
        i += 1
      }
    } else {
      // ---- materialized readers -------------------------------------
      // Buffers must be consumed in depth-first field order, but
      // emission wants random access per slot — so each flat leaf
      // column is materialized into per-slot accessors first.
      // `bits`/`str` are only invoked on valid, parent-visible slots.
      case class Leaf(label: String, len: Long, ok: Long => Boolean,
          bits: Long => Long, str: Long => String)
      def readLeaf(typ: Typ): Leaf = {
        val (len, _) = nextNode()
        val v = valid(nextBuf())
        typ match {
          case Prim(label, width) =>
            val dat = nextBuf()
            Leaf(label, len, v, i => bitsAt(dat, width, i), null)
          case BoolT =>
            val dat = nextBuf()
            Leaf("bool", len, v, i => boolAt(dat, i), null)
          case FixedBytes(width, label) =>
            val dat = nextBuf()
            Leaf(label, len, v, null, { i =>
              if ((i + 1) * width > dat.len) refuse()
              val raw = new Array[Byte](width)
              System.arraycopy(dat.a, (dat.at + i * width).toInt, raw, 0, width)
              raw.map(x => f"${x & 0xff}%02x").mkString
            })
          case DecT(width, scale, label) =>
            val dat = nextBuf()
            Leaf(label, len, v, null, { i =>
              if ((i + 1) * width > dat.len) refuse()
              // LE two's-complement unscaled value -> big-endian for
              // BigInteger, then scale to a plain decimal string
              val be = new Array[Byte](width)
              var j = 0
              while (j < width) {
                be(j) = dat.a((dat.at + i * width + (width - 1 - j)).toInt)
                j += 1
              }
              new java.math.BigDecimal(
                new java.math.BigInteger(be), scale).toPlainString
            })
          case VarBytes(label, offw) =>
            val offs = nextBuf()
            if ((len + 1) * offw > offs.len) refuse()
            val dat = nextBuf()
            val utf8 = label == "utf8" || label == "lutf8"
            Leaf(label, len, v, null, { i =>
              val s = buN(offs, offw.toLong * i, offw)
              val e = buN(offs, offw.toLong * (i + 1), offw)
              if (e < s || e > dat.len) refuse()
              val raw = new Array[Byte]((e - s).toInt)
              System.arraycopy(dat.a, (dat.at + s).toInt, raw, 0, raw.length)
              if (utf8) new String(raw, java.nio.charset.StandardCharsets.UTF_8)
              else raw.map(x => f"${x & 0xff}%02x").mkString
            })
          case _ => refuse() // nested leaf: unreachable by construction
        }
      }
      def put(name: String, row: Long, elem: Option[Long], leaf: Leaf,
          i: Long, gate: Boolean): Unit = {
        if (out.size >= MaxCells) refuse()
        if (gate && leaf.ok(i)) {
          if (leaf.str == null)
            out += Cell(batchIdx, name, row, elem, leaf.label,
              isNull = false, Some(leaf.bits(i)), None)
          else
            out += Cell(batchIdx, name, row, elem, leaf.label,
              isNull = false, None, Some(leaf.str(i)))
        } else out += Cell(batchIdx, name, row, elem, leaf.label,
          isNull = true, None, None)
      }
      def nullCell(name: String, row: Long, elem: Option[Long],
          label: String): Unit = {
        if (out.size >= MaxCells) refuse()
        out += Cell(batchIdx, name, row, elem, label, isNull = true, None, None)
      }

      f.typ match {
        case t if isScalar(t) =>
          val leaf = readLeaf(t)
          if (leaf.len != rows) refuse()
          var i = 0L
          while (i < rows) { put(f.name, i, None, leaf, i, gate = true); i += 1 }

        case NullT =>
          // one node, ZERO buffers: every slot is null by type
          val (len, _) = nextNode()
          if (len != rows) refuse()
          var i = 0L
          while (i < rows) { nullCell(f.name, i, None, "null"); i += 1 }

        case ViewBytes(label) =>
          // node + validity + views buffer + N variadic data buffers
          val (len, _) = nextNode()
          if (len != rows) refuse()
          val v = valid(nextBuf())
          val views = nextBuf()
          if (len * 16 > views.len) refuse()
          val nvar = nextVariadic()
          val dats = Array.tabulate(nvar.toInt)(_ => nextBuf())
          val utf8 = label == "utf8view"
          var i = 0L
          while (i < rows) {
            if (out.size >= MaxCells) refuse()
            if (v(i)) {
              val base = 16 * i
              val l = buN(views, base, 4).toInt
              if (l < 0) refuse()
              val raw = new Array[Byte](l)
              if (l <= 12) {
                System.arraycopy(views.a, (views.at + base + 4).toInt, raw, 0, l)
              } else {
                val bidx = buN(views, base + 8, 4).toInt
                val off = buN(views, base + 12, 4).toInt
                if (bidx < 0 || bidx >= nvar || off < 0) refuse()
                val dat = dats(bidx)
                if (off.toLong + l > dat.len) refuse()
                System.arraycopy(dat.a, (dat.at + off).toInt, raw, 0, l)
                // the 4-byte prefix must mirror the data head (spec
                // invariant; a mismatch marks a corrupt writer)
                var j = 0
                while (j < 4) {
                  if (raw(j) != views.a((views.at + base + 4 + j).toInt)) refuse()
                  j += 1
                }
              }
              val sv =
                if (utf8) new String(raw, java.nio.charset.StandardCharsets.UTF_8)
                else raw.map(x => f"${x & 0xff}%02x").mkString
              out += Cell(batchIdx, f.name, i, None, label,
                isNull = false, None, Some(sv))
            } else out += Cell(batchIdx, f.name, i, None, label,
              isNull = true, None, None)
            i += 1
          }

        case RunEndT(vt, runW, _) =>
          // parent node carries the LOGICAL length and owns no
          // buffers; run_ends child (node + validity + data) then the
          // values child — run i covers logical rows
          // [run_ends[i-1], run_ends[i]), strictly increasing, and
          // the final run must reach the logical length (a sliced
          // array may overshoot; cells cap at `rows`)
          val (len, _) = nextNode()
          if (len != rows) refuse()
          val (rlen, _) = nextNode()
          if (rlen < 0 || rlen > MaxCells) refuse()
          val rv = valid(nextBuf())
          val rdat = nextBuf()
          if (rlen * runW > rdat.len) refuse()
          val leaf = readLeaf(vt)
          if (leaf.len != rlen) refuse()
          var r = 0L
          var prev = 0L
          while (r < rlen && prev < rows) {
            if (!rv(r)) refuse() // run ends are non-nullable per spec
            var e = buN(rdat, r * runW, runW)
            if (runW < 8) { val sh = 64 - 8 * runW; e = (e << sh) >> sh }
            if (e <= prev) refuse()
            val until = math.min(e, rows)
            // materialize the run's value ONCE — a 4M-row run must
            // not decode the same string 4M times
            val runOk = leaf.ok(r)
            val runBits = if (runOk && leaf.str == null) Some(leaf.bits(r))
                          else None
            val runStr = if (runOk && leaf.str != null) Some(leaf.str(r))
                         else None
            var i = prev
            while (i < until) {
              if (out.size >= MaxCells) refuse()
              out += Cell(batchIdx, f.name, i, None, leaf.label,
                isNull = !runOk, runBits, runStr)
              i += 1
            }
            prev = until
            r += 1
          }
          if (prev != rows) refuse() // runs must cover the array

        case ListT(child, fixed, label) =>
          val (len, _) = nextNode()
          if (len != rows) refuse()
          val v = valid(nextBuf())
          val offs = if (fixed == 0) nextBuf() else Buf(b, 0, 0)
          if (fixed == 0 && (len + 1) * 4 > offs.len) refuse()
          def span(i: Long): (Long, Long) =
            if (fixed > 0) (i * fixed, fixed.toLong)
            else {
              val s = buN(offs, 4 * i, 4)
              val e = buN(offs, 4 * (i + 1), 4)
              if (e < s) refuse()
              (s, e - s)
            }
          child match {
            case inner: ListT if inner.child.isInstanceOf[ListT] =>
              // list<list<list<scalar>>> / list<list<fsl<scalar>>>
              // (batched token sequences with per-span sub-lists,
              // ragged coordinate-pair grids): middle node + validity
              // + offsets, inner node + validity + offsets, then the
              // leaf. elem/elem2/elem3 index the three levels; a null
              // list at ANY level is one cell with the indexes above
              // it set, carrying the null level's vtype; empty lists
              // emit nothing at their level.
              val inner2 = inner.child.asInstanceOf[ListT]
              val (clen, _) = nextNode()
              val cv = valid(nextBuf())
              val coffs = if (inner.fixed == 0) nextBuf() else Buf(b, 0, 0)
              if (inner.fixed == 0 && (clen + 1) * 4 > coffs.len) refuse()
              val (dlen, _) = nextNode()
              val dv = valid(nextBuf())
              val doffs = if (inner2.fixed == 0) nextBuf() else Buf(b, 0, 0)
              if (inner2.fixed == 0 && (dlen + 1) * 4 > doffs.len) refuse()
              val leaf = readLeaf(inner2.child)
              def midSpan(ci: Long): (Long, Long) =
                if (inner.fixed > 0) (ci * inner.fixed, inner.fixed.toLong)
                else {
                  val s = buN(coffs, 4 * ci, 4)
                  val e = buN(coffs, 4 * (ci + 1), 4)
                  if (e < s) refuse()
                  (s, e - s)
                }
              def inSpan(di: Long): (Long, Long) =
                if (inner2.fixed > 0) (di * inner2.fixed, inner2.fixed.toLong)
                else {
                  val s = buN(doffs, 4 * di, 4)
                  val e = buN(doffs, 4 * (di + 1), 4)
                  if (e < s) refuse()
                  (s, e - s)
                }
              var i = 0L
              while (i < len) {
                if (!v(i)) nullCell(f.name, i, None, label)
                else {
                  val (s, n) = span(i)
                  if (s + n > clen) refuse()
                  var k = 0L
                  while (k < n) {
                    val ci = s + k
                    if (!cv(ci)) {
                      if (out.size >= MaxCells) refuse()
                      out += Cell(batchIdx, f.name, i, Some(k),
                        inner.label, isNull = true, None, None)
                    } else {
                      val (ms, mn2) = midSpan(ci)
                      if (ms + mn2 > dlen) refuse()
                      var m2 = 0L
                      while (m2 < mn2) {
                        val di = ms + m2
                        if (!dv(di)) {
                          if (out.size >= MaxCells) refuse()
                          out += Cell(batchIdx, f.name, i, Some(k),
                            inner2.label, isNull = true, None, None,
                            Some(m2))
                        } else {
                          val (is, in) = inSpan(di)
                          if (is + in > leaf.len) refuse()
                          var j = 0L
                          while (j < in) {
                            if (out.size >= MaxCells) refuse()
                            val li = is + j
                            if (leaf.ok(li)) {
                              if (leaf.str == null)
                                out += Cell(batchIdx, f.name, i, Some(k),
                                  leaf.label, isNull = false,
                                  Some(leaf.bits(li)), None, Some(m2),
                                  Some(j))
                              else
                                out += Cell(batchIdx, f.name, i, Some(k),
                                  leaf.label, isNull = false, None,
                                  Some(leaf.str(li)), Some(m2), Some(j))
                            } else
                              out += Cell(batchIdx, f.name, i, Some(k),
                                leaf.label, isNull = true, None, None,
                                Some(m2), Some(j))
                            j += 1
                          }
                        }
                        m2 += 1
                      }
                    }
                    k += 1
                  }
                }
                i += 1
              }
            case inner: ListT =>
              // list<list<scalar>> / list<fsl<scalar>> (tokenized
              // batches, ragged embedding grids): inner node +
              // validity + offsets, then the leaf; elem = outer
              // index, elem2 = inner index; a null INNER list is one
              // elem2-less cell carrying the inner vtype
              val (clen, _) = nextNode()
              val cv = valid(nextBuf())
              val coffs = if (inner.fixed == 0) nextBuf() else Buf(b, 0, 0)
              if (inner.fixed == 0 && (clen + 1) * 4 > coffs.len) refuse()
              val leaf = readLeaf(inner.child)
              def innerSpan(ci: Long): (Long, Long) =
                if (inner.fixed > 0) (ci * inner.fixed, inner.fixed.toLong)
                else {
                  val s = buN(coffs, 4 * ci, 4)
                  val e = buN(coffs, 4 * (ci + 1), 4)
                  if (e < s) refuse()
                  (s, e - s)
                }
              var i = 0L
              while (i < len) {
                if (!v(i)) nullCell(f.name, i, None, label)
                else {
                  val (s, n) = span(i)
                  if (s + n > clen) refuse()
                  var k = 0L
                  while (k < n) {
                    val ci = s + k
                    if (!cv(ci)) {
                      if (out.size >= MaxCells) refuse()
                      out += Cell(batchIdx, f.name, i, Some(k), inner.label,
                        isNull = true, None, None)
                    } else {
                      val (is, in) = innerSpan(ci)
                      if (is + in > leaf.len) refuse()
                      var j = 0L
                      while (j < in) {
                        if (out.size >= MaxCells) refuse()
                        val li = is + j
                        if (leaf.ok(li)) {
                          if (leaf.str == null)
                            out += Cell(batchIdx, f.name, i, Some(k),
                              leaf.label, isNull = false,
                              Some(leaf.bits(li)), None, Some(j))
                          else
                            out += Cell(batchIdx, f.name, i, Some(k),
                              leaf.label, isNull = false, None,
                              Some(leaf.str(li)), Some(j))
                        } else
                          out += Cell(batchIdx, f.name, i, Some(k),
                            leaf.label, isNull = true, None, None, Some(j))
                        j += 1
                      }
                    }
                    k += 1
                  }
                }
                i += 1
              }
            case st: StructT =>
              // list<struct<scalars | list<scalar> | struct<scalars>>>
              // (the sequence-of-dict feature shape, incl. the depth-3
              // tokenized-QA form with ragged list fields and the
              // record-with-a-nested-record form — map<k, …> rides
              // this same path): the struct rides its own node +
              // validity, then per kid — in field order — a scalar
              // leaf, a list node + validity + offsets + leaf, or a
              // struct node + validity + its scalar grandkid leaves.
              // A struct cell per ELEMENT records element-level
              // nullity; a list kid's cells carry elem = struct
              // element index and elem2 = inner index, with a
              // null/elided inner list as one elem2-less cell (the
              // list<list> convention); a struct kid emits one
              // ancestor-gated nullity cell per element plus its
              // grandkid leaves at deeper dotted paths, all on the
              // conjunction gate (the struct<struct> convention).
              sealed trait KidR
              case class ScalarK(l: Leaf) extends KidR
              case class ListK(kv: Long => Boolean, koffs: Buf,
                  kfixed: Int, cl: Leaf, klabel: String) extends KidR
              case class StructK(skv: Long => Boolean, glabel: String,
                  gkids: Vector[(String, Leaf)]) extends KidR
              val (clen, _) = nextNode()
              val cv = valid(nextBuf())
              val kids: Vector[(String, KidR)] = st.children.map { k =>
                k.typ match {
                  case ListT(c, kfixed, klabel) =>
                    val (klen, _) = nextNode()
                    if (klen != clen) refuse()
                    val kv = valid(nextBuf())
                    val koffs = if (kfixed == 0) nextBuf() else Buf(b, 0, 0)
                    if (kfixed == 0 && (klen + 1) * 4 > koffs.len) refuse()
                    val cl = readLeaf(c)
                    (k.name, ListK(kv, koffs, kfixed, cl, klabel): KidR)
                  case StructT(gk, glabel) =>
                    val (klen, _) = nextNode()
                    if (klen != clen) refuse()
                    val skv = valid(nextBuf())
                    val gkids = gk.map { g =>
                      val gl = readLeaf(g.typ)
                      if (gl.len != clen) refuse()
                      (g.name, gl)
                    }
                    (k.name, StructK(skv, glabel, gkids): KidR)
                  case t =>
                    val l = readLeaf(t)
                    if (l.len != clen) refuse()
                    (k.name, ScalarK(l): KidR)
                }
              }
              var i = 0L
              while (i < len) {
                if (!v(i)) nullCell(f.name, i, None, label)
                else {
                  val (s, n) = span(i)
                  if (s + n > clen) refuse()
                  var k = 0L
                  while (k < n) {
                    val ci = s + k
                    if (out.size >= MaxCells) refuse()
                    out += Cell(batchIdx, f.name, i, Some(k), "struct",
                      isNull = !cv(ci), None, None)
                    kids.foreach {
                      case (kn, ScalarK(l)) =>
                        put(s"${f.name}.$kn", i, Some(k), l, ci,
                          gate = cv(ci))
                      case (kn, StructK(skv, glabel, gkids)) =>
                        val kname = s"${f.name}.$kn"
                        val g = cv(ci) && skv(ci)
                        if (out.size >= MaxCells) refuse()
                        out += Cell(batchIdx, kname, i, Some(k), glabel,
                          isNull = !g, None, None)
                        gkids.foreach { case (gn, gl) =>
                          put(s"$kname.$gn", i, Some(k), gl, ci, gate = g)
                        }
                      case (kn, ListK(kv, koffs, kfixed, cl, klabel)) =>
                        val kname = s"${f.name}.$kn"
                        if (!cv(ci) || !kv(ci))
                          nullCell(kname, i, Some(k), klabel)
                        else {
                          val (ks, kn2) =
                            if (kfixed > 0) (ci * kfixed, kfixed.toLong)
                            else {
                              val s0 = buN(koffs, 4 * ci, 4)
                              val e0 = buN(koffs, 4 * (ci + 1), 4)
                              if (e0 < s0) refuse()
                              (s0, e0 - s0)
                            }
                          if (ks + kn2 > cl.len) refuse()
                          var j = 0L
                          while (j < kn2) {
                            if (out.size >= MaxCells) refuse()
                            val li = ks + j
                            if (cl.ok(li)) {
                              if (cl.str == null)
                                out += Cell(batchIdx, kname, i, Some(k),
                                  cl.label, isNull = false,
                                  Some(cl.bits(li)), None, Some(j))
                              else
                                out += Cell(batchIdx, kname, i, Some(k),
                                  cl.label, isNull = false, None,
                                  Some(cl.str(li)), Some(j))
                            } else
                              out += Cell(batchIdx, kname, i, Some(k),
                                cl.label, isNull = true, None, None,
                                Some(j))
                            j += 1
                          }
                        }
                    }
                    k += 1
                  }
                }
                i += 1
              }
            case sc =>
              val cl = readLeaf(sc)
              var i = 0L
              while (i < len) {
                if (!v(i)) nullCell(f.name, i, None, label)
                else {
                  val (s, n) = span(i)
                  if (s + n > cl.len) refuse()
                  var k = 0L
                  while (k < n) {
                    put(f.name, i, Some(k), cl, s + k, gate = true)
                    k += 1
                  }
                }
                i += 1
              }
          }

        case StructT(kids, label) =>
          // parent: one node + validity buffer, one cell per row
          // recording struct-slot nullity; then each child in order,
          // gated on parent validity (child bytes are UNDEFINED where
          // the parent slot is null). A STRUCT child recurses — its
          // cell records slot nullity UNDER the inherited gate, and
          // its own children gate on the conjunction — so nested
          // metadata/config structs emit as deeper dotted paths
          // (`meta.cfg.opt.lr`), buffers still consumed depth-first.
          val (len, _) = nextNode()
          if (len != rows) refuse()
          val v = valid(nextBuf())
          var i = 0L
          while (i < len) {
            if (out.size >= MaxCells) refuse()
            out += Cell(batchIdx, f.name, i, None, label, isNull = !v(i),
              None, None)
            i += 1
          }
          def emitKids(prefix: String, ks: Vector[FieldSpec],
              gate: Long => Boolean): Unit = ks.foreach { k =>
            val kname = s"$prefix.${k.name}"
            k.typ match {
              case StructT(gkids, glabel) =>
                val (klen, _) = nextNode()
                if (klen != rows) refuse()
                val kv = valid(nextBuf())
                var i2 = 0L
                while (i2 < klen) {
                  if (out.size >= MaxCells) refuse()
                  out += Cell(batchIdx, kname, i2, None, glabel,
                    isNull = !gate(i2) || !kv(i2), None, None)
                  i2 += 1
                }
                emitKids(kname, gkids, j => gate(j) && kv(j))
              case ListT(c, kfixed, klabel) =>
                // struct<list<scalar>> (the SQuAD-v1 answers shape)
                val (klen, _) = nextNode()
                if (klen != rows) refuse()
                val kv = valid(nextBuf())
                val koffs = if (kfixed == 0) nextBuf() else Buf(b, 0, 0)
                if (kfixed == 0 && (klen + 1) * 4 > koffs.len) refuse()
                val cl = readLeaf(c)
                var i2 = 0L
                while (i2 < klen) {
                  if (!gate(i2) || !kv(i2)) nullCell(kname, i2, None, klabel)
                  else {
                    val (s, n) =
                      if (kfixed > 0) (i2 * kfixed, kfixed.toLong)
                      else {
                        val s0 = buN(koffs, 4 * i2, 4)
                        val e0 = buN(koffs, 4 * (i2 + 1), 4)
                        if (e0 < s0) refuse()
                        (s0, e0 - s0)
                      }
                    if (s + n > cl.len) refuse()
                    var kk = 0L
                    while (kk < n) {
                      put(kname, i2, Some(kk), cl, s + kk, gate = true)
                      kk += 1
                    }
                  }
                  i2 += 1
                }
              case sc =>
                val l = readLeaf(sc)
                if (l.len != rows) refuse()
                var i2 = 0L
                while (i2 < rows) {
                  put(kname, i2, None, l, i2, gate = gate(i2))
                  i2 += 1
                }
            }
          }
          emitKids(f.name, kids, v)
        case LargeListT(child, label) =>
          // one node + validity + 64-bit offsets, then the scalar
          // leaf; cell convention identical to list<scalar>
          val (len, _) = nextNode()
          if (len != rows) refuse()
          val v = valid(nextBuf())
          val offs = nextBuf()
          if ((len + 1) * 8 > offs.len) refuse()
          val cl = readLeaf(child)
          var i = 0L
          while (i < len) {
            if (!v(i)) nullCell(f.name, i, None, label)
            else {
              val s = buN(offs, 8 * i, 8)
              val e = buN(offs, 8 * (i + 1), 8)
              if (e < s || e > cl.len) refuse()
              var k = 0L
              while (k < e - s) {
                put(f.name, i, Some(k), cl, s + k, gate = true)
                k += 1
              }
            }
            i += 1
          }

        case ListViewT(child, offw, label) =>
          // node + validity + offsets + sizes, then the scalar leaf;
          // ranges are independent per slot (may overlap, need not be
          // sorted) — each valid slot's window is bounds-checked
          // against the child length
          val (len, _) = nextNode()
          if (len != rows) refuse()
          val v = valid(nextBuf())
          val offs = nextBuf()
          if (len * offw > offs.len) refuse()
          val sizes = nextBuf()
          if (len * offw > sizes.len) refuse()
          val cl = readLeaf(child)
          var i = 0L
          while (i < len) {
            if (!v(i)) nullCell(f.name, i, None, label)
            else {
              val s = buN(offs, offw.toLong * i, offw)
              val n = buN(sizes, offw.toLong * i, offw)
              if (s < 0 || n < 0 || s + n > cl.len) refuse()
              var k = 0L
              while (k < n) {
                put(f.name, i, Some(k), cl, s + k, gate = true)
                k += 1
              }
            }
            i += 1
          }

        case UnionT(kids, tids, dense, _) =>
          // union node (no validity buffer), then type ids — int8 per
          // slot — plus 32-bit offsets when dense; children follow as
          // full depth-first columns. Each slot emits ONE cell from
          // the child its type id selects, carrying the child's
          // vtype; nullity is the selected child slot's.
          val (len, _) = nextNode()
          if (len != rows) refuse()
          val types = nextBuf()
          if (len > types.len) refuse()
          val offs = if (dense) nextBuf() else Buf(b, 0, 0)
          if (dense && len * 4 > offs.len) refuse()
          val leaves = kids.map(k => readLeaf(k.typ))
          if (!dense) leaves.foreach(l => if (l.len != rows) refuse())
          var i = 0L
          while (i < rows) {
            val ci = tids.indexOf(bu8(types, i))
            if (ci < 0) refuse() // type id names no child
            val leaf = leaves(ci)
            val j =
              if (dense) {
                val o = buN(offs, 4 * i, 4)
                if (o < 0 || o >= leaf.len) refuse()
                o
              } else i
            put(f.name, i, None, leaf, j, gate = true)
            i += 1
          }

        case _ => refuse() // unreachable: all Typ shapes dispatched above
      }
    }
  }

  /** Decode a DictionaryBatch message: id(0) data(1: RecordBatch)
    * isDelta(2). The data batch carries ONE column of the value type;
    * its cells (in row order) become the dictionary's value table.
    * A repeated id is a spec REPLACEMENT and overwrites in stream
    * order; a DELTA batch (isDelta = 1) APPENDS to the id's existing
    * table — a delta with no prior table refuses (the spec requires
    * an initial non-delta batch first). */
  private def decodeDictionary(b: Array[Byte], dbPos: Long, bodyAt: Long,
      bodyLen: Long, fields: Vector[FieldSpec],
      dicts: scala.collection.mutable.Map[Long, Vector[Cell]]): Unit = {
    val idPos = field(b, dbPos, 0)
    val id = if (idPos < 0) 0L else le64(b, idPos)
    val deltaPos = field(b, dbPos, 2)
    val isDelta = deltaPos >= 0 && u8(b, deltaPos) != 0
    val spec = fields.find(_.dict.exists(_.id == id)).getOrElse(refuse())
    val rbPos = field(b, dbPos, 1)
    if (rbPos < 0) refuse()
    val tmp = scala.collection.mutable.ArrayBuffer.empty[Cell]
    decodeBatch(b, indirect(b, rbPos), bodyAt, bodyLen,
      Vector(FieldSpec(spec.name, spec.typ, None)), 0, dicts, tmp)
    dicts(id) =
      if (isDelta) dicts.getOrElse(id, refuse()) ++ tmp.toVector
      else tmp.toVector
    if (dicts(id).size > MaxCells) refuse()
  }

  // ---- message framing ------------------------------------------------

  /** Parse the encapsulated message at `p`: Right((message table
    * position, body position, body length, next position)), or
    * Left(position past the marker) at a clean end-of-stream marker. */
  private def message(b: Array[Byte], p: Long): Either[Long, (Long, Long, Long, Long)] = {
    var q = p
    var metaLen = le32(b, q)
    q += 4
    if (metaLen == 0xffffffffL) { metaLen = le32(b, q); q += 4 } // continuation
    if (metaLen == 0) return Left(q) // end-of-stream
    if (metaLen > MaxMetaBytes || q + metaLen > b.length) refuse()
    val root = q + le32(b, q)
    if (root >= q + metaLen) refuse()
    val blPos = field(b, root, 3)
    val bodyLen = if (blPos < 0) 0L else le64(b, blPos)
    if (bodyLen < 0 || q + metaLen + bodyLen > b.length) refuse()
    Right((root, q + metaLen, bodyLen, q + metaLen + bodyLen))
  }

  private def headerType(b: Array[Byte], msgPos: Long): Int = {
    val htPos = field(b, msgPos, 1)
    if (htPos < 0) 0 else u8(b, htPos)
  }

  private def headerOf(b: Array[Byte], msgPos: Long, wantType: Int): Long = {
    if (headerType(b, msgPos) != wantType) refuse()
    val hPos = field(b, msgPos, 2)
    if (hPos < 0) refuse()
    indirect(b, hPos)
  }

  // ---- the two framings -----------------------------------------------

  /** FILE format: trailing footer names the schema + dictionary and
    * batch blocks; dictionaries decode first (batch indices resolve
    * against them). */
  private def decodeFile(b: Array[Byte]): Option[Vector[Cell]] = {
    val n = b.length
    if (n < 8 + 10 || !hasMagic(b, n - 6)) refuse()
    val footerLen = le32(b, n - 10L)
    val footerPos = n - 10L - footerLen
    if (footerLen < 4 || footerPos < 8) refuse()
    val root = footerPos + le32(b, footerPos)
    // Footer: version(0) schema(1) dictionaries(2) recordBatches(3)
    val sPos = field(b, root, 1)
    if (sPos < 0) refuse()
    val fields = parseSchema(b, indirect(b, sPos))
    val dicts = scala.collection.mutable.Map.empty[Long, Vector[Cell]]
    def blockAt(at: Long, i: Long): (Long, Long, Long) = {
      val p = at + 24 * i
      val off = le64(b, p)
      val metaDataLen = le32(b, p + 8).toInt.toLong
      val bodyLen = le64(b, p + 16)
      if (off < 0 || metaDataLen < 8 || bodyLen < 0 ||
          off + metaDataLen + bodyLen > n) refuse()
      (off, metaDataLen, bodyLen)
    }
    val dicPos = field(b, root, 2)
    if (dicPos >= 0) {
      val (nd, dat) = vec(b, dicPos, 24)
      if (nd > MaxBatches) refuse()
      var i = 0L
      while (i < nd) {
        val (off, metaDataLen, bodyLen) = blockAt(dat, i)
        val (msgRoot, _, _, _) = message(b, off).getOrElse(refuse())
        decodeDictionary(b, headerOf(b, msgRoot, 2), off + metaDataLen,
          bodyLen, fields, dicts)
        i += 1
      }
    }
    val rbPos = field(b, root, 3)
    if (rbPos < 0) refuse()
    val (nb, at) = vec(b, rbPos, 24)
    if (nb > MaxBatches) refuse()
    val out = scala.collection.mutable.ArrayBuffer.empty[Cell]
    var i = 0L
    while (i < nb) {
      val (off, metaDataLen, bodyLen) = blockAt(at, i)
      val (msgRoot, _, _, _) = message(b, off).getOrElse(refuse())
      val rb = headerOf(b, msgRoot, 3)
      decodeBatch(b, rb, off + metaDataLen, bodyLen, fields, i.toInt, dicts, out)
      i += 1
    }
    Some(out.toVector)
  }

  /** STREAM format: Schema message, then DictionaryBatch/RecordBatch
    * messages in stream order, then an end-of-stream marker (or clean
    * EOF). Trailing bytes past the marker refuse the file — the
    * strict-trailing-garbage stance the gzip/bz2/zip codecs share. */
  private def decodeStream(b: Array[Byte]): Option[Vector[Cell]] = {
    val (sRoot, _, _, afterSchema) = message(b, 0).getOrElse(refuse())
    val fields = parseSchema(b, headerOf(b, sRoot, 1))
    val dicts = scala.collection.mutable.Map.empty[Long, Vector[Cell]]
    val out = scala.collection.mutable.ArrayBuffer.empty[Cell]
    var p = afterSchema
    var batch = 0
    var done = false
    while (!done && p < b.length) {
      message(b, p) match {
        case Left(after) =>
          if (after != b.length) refuse() // trailing garbage after EOS
          done = true
        case Right((mRoot, bodyAt, bodyLen, next)) =>
          headerType(b, mRoot) match {
            case 2 =>
              decodeDictionary(b, headerOf(b, mRoot, 2), bodyAt, bodyLen,
                fields, dicts)
            case _ =>
              if (batch >= MaxBatches) refuse()
              val rb = headerOf(b, mRoot, 3)
              decodeBatch(b, rb, bodyAt, bodyLen, fields, batch, dicts, out)
              batch += 1
          }
          p = next
      }
    }
    Some(out.toVector)
  }
}
