package graft

import graft.sources.ArrowCodec

/** Contract specs for the Arrow IPC codec: both framings, the
  * flatbuffers walk, null/list semantics, the refusal envelope, and
  * never-throw under hostile bytes. The fixtures are written by
  * pyarrow itself (tools/arrow_golden.py — the format's reference
  * implementation); per-cell value grading runs through the
  * oracle-graded q_arrow_read. */
class ArrowCodecSpec extends SparkSpec {

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.base, "q_arrow_read", name))

  test("file format: two batches, every primitive width, nulls, NaN payloads") {
    val cells = ArrowCodec.decode(fixture("table-00.arrow")).get
    assert(cells.size == 54)
    assert(cells.map(_.batch).distinct == Vector(0, 1))
    // i64 column: null slot + a value beyond double precision
    val ids = cells.filter(c => c.col == "ids" && c.batch == 0)
    assert(ids.map(_.bits) ==
      Vector(Some(1L), None, Some(-3L), Some(9007199254740993L)))
    assert(ids(1).isNull)
    // f64 NaN payload is bit-exact
    val nan = cells.find(c => c.col == "xs" && c.batch == 0 && c.row == 3).get
    assert(java.lang.Double.isNaN(
      java.lang.Double.longBitsToDouble(nan.bits.get)))
    // f32 -0.0 keeps its sign bit
    val negz = cells.find(c => c.col == "ys" && c.batch == 0 && c.row == 1).get
    assert(negz.bits.contains(0x80000000L))
    // f16 raw bits
    val half = cells.find(c => c.col == "hs" && c.batch == 1 && c.row == 0).get
    assert(half.vtype == "f16" && half.bits.contains(0x7bffL)) // 65504
    // unicode + empty strings, binary as hex
    assert(cells.find(c => c.col == "name" && c.row == 0 && c.batch == 0)
      .get.str.contains("café"))
    assert(cells.find(c => c.col == "blob" && c.row == 3 && c.batch == 0)
      .get.str.contains("fffefd"))
  }

  test("nested columns: fsl embeddings, null list, empty list, null element") {
    val cells = ArrowCodec.decode(fixture("embed-01.arrow")).get
    val vec = cells.filter(_.col == "vec")
    assert(vec.count(_.elem.isDefined) == 9) // 3 valid rows x 3
    assert(vec.find(_.row == 1).get.isNull &&
      vec.find(_.row == 1).get.vtype == "fsl3<f32>")
    val toks = cells.filter(_.col == "toks")
    assert(toks.filter(_.row == 0).flatMap(_.bits) == Vector(1L, 2L, 3L))
    assert(!toks.exists(_.row == 1)) // empty list emits nothing
    assert(toks.find(_.row == 2).get.isNull) // null list
    val nullElem = toks.find(c => c.row == 3 && c.elem.contains(1L)).get
    assert(nullElem.isNull && nullElem.vtype == "i64")
  }

  test("stream format: schema message then batches then EOS") {
    val cells = ArrowCodec.decode(fixture("stream-02.arrow")).get
    assert(cells.size == 6 && cells.map(_.batch).distinct == Vector(0, 1))
    assert(cells.find(c => c.col == "t" && c.batch == 1).get.str.contains("fin"))
  }

  test("compressed bodies: ZSTD and LZ4_FRAME decode identical to the plain file") {
    val plain = ArrowCodec.decode(fixture("table-00.arrow")).get
    val zstd = ArrowCodec.decode(fixture("zstdipc-03.arrow")).get
    assert(zstd == plain.filter(_.batch == 0)) // zstd file holds batch 0 only
    val lz4 = ArrowCodec.decode(fixture("lz4-08.arrow")).get
    assert(lz4 == plain) // lz4 file holds both batches
  }

  test("dictionary-encoded columns resolve through the DictionaryBatch") {
    val cells = ArrowCodec.decode(fixture("dict-04.arrow")).get
    assert(cells.map(_.str) ==
      Vector(Some("a"), Some("b"), Some("a"), Some("c")))
    assert(cells.forall(_.vtype == "utf8"))
    // stock write_feather output: LZ4 bodies + categorical column
    val f9 = ArrowCodec.decode(fixture("feather-09.arrow")).get
    val src = f9.filter(_.col == "source")
    assert(src.map(_.str) == Vector(Some("news"), Some("web"), None,
      Some("web"), Some("code"), Some("news"), Some("web"), Some("code")))
    assert(src(2).isNull)
    // stream framing, int8 indices, null index slot
    val s10 = ArrowCodec.decode(fixture("streamdict-10.arrow")).get
    val c = s10.filter(_.col == "c")
    assert(c.map(_.str) ==
      Vector(Some("x"), Some("yy"), None, Some("zzz"), Some("yy")))
  }

  test("logical types: timestamps, dates, times, decimal, struct, large offsets") {
    val cs = ArrowCodec.decode(fixture("logical-12.arrow")).get
    def col(n: String) = cs.filter(_.col == n).sortBy(_.row)
    // timestamp labels carry the unit and timezone
    assert(col("ts_utc").head.vtype == "ts_us[UTC]")
    assert(col("ts_utc").head.bits.contains(1700000000000000L))
    assert(col("ts_naive")(0).vtype == "ts_ns" &&
      col("ts_naive")(0).bits.contains(1700000000123456789L))
    assert(col("ts_naive")(3).bits.contains(-1L))
    // date32 days sign-preserved via the raw-bits convention
    assert(col("d32")(3).bits.contains(-719162L & 0xFFFFFFFFL))
    assert(col("d64")(0).vtype == "date64" &&
      col("d64")(0).bits.contains(1700000000000L))
    assert(col("t32")(1).bits.contains(86399999L))
    assert(col("t64")(0).vtype == "time64_us")
    assert(col("dur")(1).bits.contains(-5L))
    // decimal128 renders as a plain scaled string
    assert(col("price").map(_.str) ==
      Vector(Some("12345.67"), Some("-0.03"), None, Some("0.00")))
    assert(col("tag")(0).str.contains("00112233"))
    assert(col("ltxt")(0).vtype == "lutf8" &&
      col("ltxt")(0).str.contains("large café"))
    // struct: parent nullity cells + children gated on the parent
    assert(col("st").map(_.isNull) == Vector(false, true, false, false))
    assert(col("st.a").map(_.bits) ==
      Vector(Some(1L), None, None, Some(4L)))
    assert(col("st.s").map(_.str) ==
      Vector(Some("x"), None, Some("y"), None))
    // row 1 children are null BECAUSE the parent slot is null
    assert(col("st.a")(1).isNull && col("st.s")(1).isNull)
  }

  test("nested features: list<utf8>, list<struct>, struct<list>, fsl<utf8>") {
    val cs = ArrowCodec.decode(fixture("nested-13.arrow")).get
    def col(n: String) = cs.filter(_.col == n)
    // list<utf8>: elements, empty list emits nothing, null list one cell
    assert(col("toktxt").filter(_.row == 0).map(_.str) ==
      Vector(Some("a"), Some("bb"), None))
    assert(col("toktxt").count(_.row == 1) == 0, "empty list emits no cells")
    val nullList = col("toktxt").filter(_.row == 2)
    assert(nullList.size == 1 && nullList.head.isNull &&
      nullList.head.vtype == "list<utf8>" && nullList.head.elem.isEmpty)
    // list<struct>: element-level struct nullity + kid cells
    val a3 = col("answers").filter(_.row == 3)
    assert(a3.map(c => (c.elem, c.isNull)) ==
      Vector((Some(0L), true), (Some(1L), false)))
    assert(col("answers.text").filter(_.row == 3).map(_.str) ==
      Vector(None, Some("z")), "null struct element gates its kids")
    assert(col("answers.start").filter(c => c.row == 0 && c.elem.contains(1L))
      .head.bits.contains(7L))
    // struct<list>: SQuAD-v1 shape
    assert(col("ans1").map(_.isNull) == Vector(false, true, false, false))
    assert(col("ans1.text").filter(_.row == 0).map(_.str) ==
      Vector(Some("a"), Some("b")))
    val r1 = col("ans1.text").filter(_.row == 1)
    assert(r1.size == 1 && r1.head.isNull && r1.head.vtype == "list<utf8>",
      "parent-null struct row reads its list child as a null list")
    assert(col("ans1.answer_start").count(_.row == 2) == 0, "empty child list")
    assert(col("ans1.answer_start").filter(_.row == 3).map(_.bits) ==
      Vector(Some(5L)))
    // fixed_size_list of strings
    assert(col("fsl2s").filter(_.row == 2).map(_.str) ==
      Vector(Some("r"), Some("")))
    // list<struct<...list fields...>> is covered by nested3-20;
    // struct-in-struct by structstruct-23; triply-nested lists by
    // nested333-25
  }

  test("triply-nested lists: elem/elem2/elem3, nulls at every level") {
    val cs = ArrowCodec.decode(fixture("nested333-25.arrow")).get
    def col(n: String) = cs.filter(_.col == n)
    // row 0: [[[1,2],[3]],[[4]]] — full three-level indexing
    assert(col("cube").filter(_.row == 0)
      .map(c => (c.elem, c.elem2, c.elem3, c.bits)) == Vector(
      (Some(0L), Some(0L), Some(0L), Some(1L)),
      (Some(0L), Some(0L), Some(1L), Some(2L)),
      (Some(0L), Some(1L), Some(0L), Some(3L)),
      (Some(1L), Some(0L), Some(0L), Some(4L))))
    // row 1: null OUTER = one column-vtype cell, all indexes null
    assert(col("cube").filter(_.row == 1)
      .map(c => (c.vtype, c.isNull, c.elem, c.elem2, c.elem3)) ==
      Vector(("list<list<list<i64>>>", true, None, None, None)))
    // row 2: empty outer emits nothing
    assert(col("cube").count(_.row == 2) == 0)
    // row 3: [None, [[5,None]], [[]]] — null MIDDLE at elem 0; a null
    // LEAF at (1,0,1); empty inner list emits nothing at elem 2
    assert(col("cube").filter(c => c.row == 3 && c.elem.contains(0L))
      .map(c => (c.vtype, c.isNull, c.elem2)) ==
      Vector(("list<list<i64>>", true, None)))
    assert(col("cube").filter(c => c.row == 3 && c.elem.contains(1L))
      .map(c => (c.elem2, c.elem3, c.bits, c.isNull)) == Vector(
      (Some(0L), Some(0L), Some(5L), false),
      (Some(0L), Some(1L), None, true)))
    assert(col("cube").count(c => c.row == 3 && c.elem.contains(2L)) == 0)
    // row 4: [[None,[6]]] — null INNER list at (0,0) is one
    // elem3-less cell with the inner vtype
    assert(col("cube").filter(_.row == 4)
      .map(c => (c.vtype, c.isNull, c.elem, c.elem2, c.elem3)) == Vector(
      ("list<i64>", true, Some(0L), Some(0L), None),
      ("i64", false, Some(0L), Some(1L), Some(0L))))
    // fsl leaves: pairs ride elem3 0/1; null middle; null leaf slot
    assert(col("cgrid").filter(_.row == 0)
      .map(c => (c.elem, c.elem2, c.elem3)) == Vector(
      (Some(0L), Some(0L), Some(0L)), (Some(0L), Some(0L), Some(1L)),
      (Some(0L), Some(1L), Some(0L)), (Some(0L), Some(1L), Some(1L)),
      (Some(1L), Some(0L), Some(0L)), (Some(1L), Some(0L), Some(1L))))
    assert(col("cgrid").filter(_.row == 1)
      .map(c => (c.vtype, c.isNull, c.elem)) ==
      Vector(("list<fsl2<f32>>", true, Some(0L))))
    assert(col("cgrid").filter(_.row == 4).map(c => (c.elem3, c.isNull)) ==
      Vector((Some(0L), false), (Some(1L), true)))
    // truncation + flip fuzz: never throws
    val f = fixture("nested333-25.arrow")
    val fz = new FuzzDigest
    (0 until f.length by 7).foreach(k => fz.add(ArrowCodec.decode(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x5c).toByte
      fz.add(ArrowCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "1978/963:911933a8fc6e0906", fz.hex)
  }

  test("struct-in-struct: dotted paths, ancestor-gated nullity, depth cap") {
    val cs = ArrowCodec.decode(fixture("structstruct-23.arrow")).get
    def col(n: String) = cs.filter(_.col == n)
    // every struct level emits one nullity cell per ROW
    assert(col("meta").map(_.isNull) ==
      Vector(false, true, false, false, false))
    assert(col("meta.cfg").map(_.isNull) ==
      Vector(false, true, true, false, false))
    assert(col("meta.cfg.opt").map(_.isNull) ==
      Vector(false, true, true, false, true), "opt gates on meta AND cfg")
    // depth-2 leaves gate on the whole ancestor chain
    assert(col("meta.cfg.opt.lr").map(_.bits) ==
      Vector(Some(java.lang.Double.doubleToLongBits(0.1)), None, None,
        None, None))
    assert(col("meta.cfg.opt.warm").map(_.bits) ==
      Vector(Some(1L), None, None, Some(0L), None))
    // scalar + list kids alongside the nested struct
    assert(col("meta.id").map(_.bits) ==
      Vector(Some(1L), None, Some(3L), None, Some(5L)))
    assert(col("meta.cfg.name").map(_.str) ==
      Vector(Some("bert"), None, None, None, Some("gpt")))
    // list kid INSIDE the depth-1 struct: null/gated-off list is one
    // elem-less cell; empty list emits nothing; elements carry elem
    assert(col("meta.cfg.tags").filter(_.row == 0).map(c => (c.elem, c.str)) ==
      Vector((Some(0L), Some("a")), (Some(1L), None)))
    assert(col("meta.cfg.tags").filter(_.row == 1)
      .map(c => (c.vtype, c.isNull, c.elem)) ==
      Vector(("list<utf8>", true, None)), "meta-null row gates the list")
    assert(col("meta.cfg.tags").count(_.row == 3) == 0, "empty list")
    assert(col("meta.dims").filter(_.row == 4).map(_.bits) ==
      Vector(Some(7L)))
    // struct nesting past depth 2 refuses whole-file
    assert(ArrowCodec.decode(fixture("structdeep-24.arrow")).isEmpty,
      "4-level struct nesting must refuse")
    // truncation + flip fuzz over the new fixture: never throws
    val f = fixture("structstruct-23.arrow")
    val fz = new FuzzDigest
    (0 until f.length by 7).foreach(k => fz.add(ArrowCodec.decode(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x5c).toByte
      fz.add(ArrowCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "2416/1254:b06a0e900ae635a1", fz.hex)
  }

  test("depth-3 list<struct<list<scalar>>>: ragged fields per element") {
    val cs = ArrowCodec.decode(fixture("nested3-20.arrow")).get
    def col(n: String) = cs.filter(_.col == n)
    // row 0 el 0: text "alpha", spans [1,2,3], score 0.5
    assert(col("qa.spans").filter(c => c.row == 0 && c.elem.contains(0L))
      .map(c => (c.elem2, c.bits)) ==
      Vector((Some(0L), Some(1L)), (Some(1L), Some(2L)),
        (Some(2L), Some(3L))))
    // row 0 el 1: empty spans list emits nothing; null text gates only
    // the text cell
    assert(col("qa.spans").count(c => c.row == 0 && c.elem.contains(1L)) == 0)
    assert(col("qa.text").filter(_.row == 0).map(c => (c.elem, c.str)) ==
      Vector((Some(0L), Some("alpha")), (Some(1L), None)))
    // row 1: empty outer; row 2: null outer = one list<struct> cell
    assert(col("qa").count(_.row == 1) == 0)
    assert(col("qa").filter(_.row == 2).map(c => (c.vtype, c.isNull)) ==
      Vector(("list<struct>", true)))
    // row 3 el 0: NULL inner list = one elem2-less list<i32> cell
    assert(col("qa.spans").filter(c => c.row == 3 && c.elem.contains(0L))
      .map(c => (c.vtype, c.isNull, c.elem2)) ==
      Vector(("list<i32>", true, None)))
    // row 3 el 1: null struct ELEMENT: struct cell null, scalar kids
    // null, list kid one null cell
    assert(col("qa").filter(c => c.row == 3 && c.elem.contains(1L))
      .map(c => (c.vtype, c.isNull)) == Vector(("struct", true)))
    assert(col("qa.spans").filter(c => c.row == 3 && c.elem.contains(1L))
      .map(_.isNull) == Vector(true))
    // row 3 el 2: spans [4, null] — null LEAF inside the inner list
    assert(col("qa.spans").filter(c => c.row == 3 && c.elem.contains(2L))
      .map(c => (c.elem2, c.bits, c.isNull)) ==
      Vector((Some(0L), Some(4L), false), (Some(1L), None, true)))
    // fsl kid: 2 cells per element; a null fsl one elem2-less cell
    assert(col("grid.w").filter(_.row == 0).map(c => (c.elem, c.elem2)) ==
      Vector((Some(0L), Some(0L)), (Some(0L), Some(1L))))
    assert(col("grid.w").filter(c => c.row == 2 && c.elem.contains(1L))
      .map(c => (c.vtype, c.isNull, c.elem2)) ==
      Vector(("fsl2<f32>", true, None)))
    // fuzz the fixture — truncations and flips must never throw
    val f = fixture("nested3-20.arrow")
    val fz = new FuzzDigest
    (0 until f.length by 7).foreach(k => fz.add(ArrowCodec.decode(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x5c).toByte
      fz.add(ArrowCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "2426/1211:8c932eac48e5aa9b", fz.hex)
  }

  test("MonthDayNano intervals decode as 16 hex bytes; other units refuse") {
    val cs = ArrowCodec.decode(fixture("interval-22.arrow")).get
    val iv = cs.filter(_.col == "iv")
    assert(iv.map(_.vtype).distinct == Vector("interval_mdn"))
    // (1 month, 2 days, 3 ns) packs LE i32+i32+i64
    assert(iv.find(_.row == 0).get.str ==
      Some("01000000" + "02000000" + "0300000000000000"))
    assert(iv.find(_.row == 1).get.isNull)
    assert(iv.find(_.row == 3).get.str ==
      Some("ffffffff" + "feffffff" + "00a22f4dffffffff"))
    // flip the IntervalUnit to YEAR_MONTH: whole-file refusal (the
    // unit rides a flatbuffers int16 field; locate it by mutating
    // every plausible byte is fragile, so assert via the API rule
    // instead: a fuzz sweep must never throw)
    val f = fixture("interval-22.arrow")
    val fz = new FuzzDigest
    (0 until f.length by 5).foreach(k => fz.add(ArrowCodec.decode(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x33).toByte
      fz.add(ArrowCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "867/428:91fe110825f43ae7", fz.hex)
  }

  test("Map columns decode as keyed entries; delta dictionaries append") {
    val ms = ArrowCodec.decode(fixture("map-15.arrow")).get
    def col(n: String) = ms.filter(_.col == n)
    assert(col("m.key").filter(_.row == 0).map(_.str) ==
      Vector(Some("a"), Some("b")))
    assert(col("m.value").filter(_.row == 0).map(_.bits) ==
      Vector(Some(1L), Some(2L)))
    assert(col("m").filter(_.row == 2).map(c => (c.vtype, c.isNull)) ==
      Vector(("map", true)))
    assert(col("m.value").filter(_.row == 3).map(_.isNull) == Vector(true))
    // map<utf8, list<i64>> (config-blob metadata): value lists ride
    // elem2; null value list = one elem2-less cell
    val mn = ArrowCodec.decode(fixture("mapnested-21.arrow")).get
    def mcol(n: String) = mn.filter(_.col == n)
    assert(mcol("m.value").filter(_.row == 0).map(c =>
      (c.elem, c.elem2, c.bits)) ==
      Vector((Some(0L), Some(0L), Some(1L)), (Some(0L), Some(1L), Some(2L))))
    assert(mcol("m").filter(_.row == 1).map(c => (c.vtype, c.isNull)) ==
      Vector(("map", true)))
    assert(mcol("m.value").filter(c => c.row == 2 && c.elem.contains(0L))
      .map(c => (c.vtype, c.isNull, c.elem2)) ==
      Vector(("list<i64>", true, None)))
    assert(mcol("m.value").filter(c => c.row == 2 && c.elem.contains(1L))
      .map(c => (c.elem2, c.bits, c.isNull)) ==
      Vector((Some(0L), Some(3L), false), (Some(1L), None, true)))
    assert(mcol("m").count(_.row == 3) == 0, "empty map emits nothing")
    // delta dictionary: the second batch's indices resolve through
    // the APPENDED table (initial x,y + delta z,w — the fixture's
    // second dictionary message carries only z,w on the wire)
    val ds = ArrowCodec.decode(fixture("deltadict-16.arrow")).get
    assert(ds.filter(_.batch == 0).map(_.str.get) == Vector("x", "y", "x"))
    assert(ds.filter(_.batch == 1).map(_.str.get) == Vector("z", "y", "w"))
    // fuzz both
    val fz = new FuzzDigest
    for (name <- Seq("map-15.arrow", "deltadict-16.arrow")) {
      val f = fixture(name)
      (0 until f.length by 7).foreach(k => fz.add(ArrowCodec.decode(f.take(k))))
      var j = 0
      while (j < f.length) {
        val m = f.clone(); m(j) = (m(j) ^ 0x44).toByte
        fz.add(ArrowCodec.decode(m))
        j += 1
      }
    }
    assert(fz.hex == "2151/781:6b1bffc803c412f9", fz.hex)
  }

  test("doubly-nested lists: list<list<i64>> batches, list<fsl2<f32>> grids") {
    val cs = ArrowCodec.decode(fixture("nested2-14.arrow")).get
    def col(n: String) = cs.filter(_.col == n)
    val b = col("batches")
    // row 0: [[1,2],[3]] — (elem, elem2) grid with values
    assert(b.filter(_.row == 0).map(c => (c.elem, c.elem2, c.bits)) ==
      Vector((Some(0L), Some(0L), Some(1L)), (Some(0L), Some(1L), Some(2L)),
        (Some(1L), Some(0L), Some(3L))))
    assert(b.count(_.row == 1) == 0, "empty outer list emits nothing")
    val r2 = b.filter(_.row == 2)
    assert(r2.size == 1 && r2.head.isNull &&
      r2.head.vtype == "list<list<i64>>" && r2.head.elem.isEmpty)
    // row 3: [[], [4, null]] — empty inner emits nothing; null element
    assert(b.filter(_.row == 3).map(c => (c.elem, c.elem2, c.bits, c.isNull)) ==
      Vector((Some(1L), Some(0L), Some(4L), false),
        (Some(1L), Some(1L), None, true)))
    // fsl inner: 2 values per inner slot, f32 bits
    val g = col("grids")
    assert(g.filter(_.row == 0).map(c => (c.elem, c.elem2)) ==
      Vector((Some(0L), Some(0L)), (Some(0L), Some(1L)),
        (Some(1L), Some(0L)), (Some(1L), Some(1L))))
    assert(g.filter(_.row == 1).map(_.vtype) == Vector("list<fsl2<f32>>"))
    assert(g.count(_.row == 2) == 0)
    // flat columns carry no elem2
    val flat = ArrowCodec.decode(fixture("table-00.arrow")).get
    assert(flat.forall(_.elem2.isEmpty))
    // fuzz the nested fixture
    val f = fixture("nested2-14.arrow")
    val fz = new FuzzDigest
    (0 until f.length by 7).foreach(k => fz.add(ArrowCodec.decode(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x71).toByte
      fz.add(ArrowCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "1530/758:ddd73c045813527d", fz.hex)
  }

  test("Null columns decode all-null; RunEndEncoded expands to logical values") {
    // nullcol-18: a Null-typed (zero-buffer) column next to real data
    // — the HF shard shape where a feature had no values
    val nc = ArrowCodec.decode(fixture("nullcol-18.arrow")).get
    val feat = nc.filter(_.col == "feat")
    assert(feat.size == 6 && feat.forall(c => c.isNull && c.vtype == "null"))
    assert(feat.map(_.batch).distinct == Vector(0, 1)) // node per batch
    val ids = nc.filter(_.col == "id")
    assert(ids.flatMap(_.bits) == Vector(1L, 2L, 3L, 4L, 5L, 6L))
    assert(nc.find(c => c.col == "txt" && c.batch == 0 && c.row == 1)
      .get.isNull)

    // ree-19: utf8 REE with a NULL run, i64 REE, int16 run-ends
    val re = ArrowCodec.decode(fixture("ree-19.arrow")).get
    val src = re.filter(_.col == "source")
    assert(src.map(_.str) == Vector(Some("news"), Some("news"), Some("news"),
      None, None, Some("web"), Some("web"), Some("code"), Some("code"),
      Some("code")))
    assert(src.forall(_.vtype == "utf8")) // cells carry the VALUE type
    val num = re.filter(_.col == "num")
    assert(num.flatMap(_.bits) ==
      Vector(7L, 7L, 7L, 7L, -1L, -1L, 2L, 2L, 2L, 2L))
    val lang = re.filter(_.col == "lang") // single 10-long run, i16 ends
    assert(lang.size == 10 && lang.forall(_.str.contains("en")))
  }

  test("REE refusals: non-increasing run ends, runs short of the length") {
    // hand-corrupt ree-19's run-ends buffer: find the int16 run-ends
    // value 10 (the lang column's single run end) and shrink it so the
    // runs no longer cover the logical length -> whole-file refusal
    val good = fixture("ree-19.arrow")
    assert(ArrowCodec.decode(good).isDefined)
    var refused = 0
    for (i <- 0 until good.length - 1) {
      if (good(i) == 10.toByte && good(i + 1) == 0.toByte) {
        val bad = good.clone()
        bad(i) = 3 // a 10 somewhere: if it was a run end, coverage breaks
        if (ArrowCodec.decode(bad).isEmpty) refused += 1
      }
    }
    assert(refused >= 1) // at least the real run-end site refuses
  }

  test("nested fixture survives truncation and fuzz without throwing") {
    val f = fixture("nested-13.arrow")
    val fz = new FuzzDigest
    (0 until f.length by 7).foreach(k => fz.add(ArrowCodec.decode(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x5c).toByte
      fz.add(ArrowCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "2892/1423:eafba50cdb6d6b55", fz.hex)
  }

  test("logical fixture survives truncation and fuzz without throwing") {
    val f = fixture("logical-12.arrow")
    val fz = new FuzzDigest
    (0 until f.length by 11).foreach(k => fz.add(ArrowCodec.decode(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x2d).toByte
      fz.add(ArrowCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "3223/1788:7f54103680612d04", fz.hex)
  }

  test("refusals: truncation, trailing garbage after stream EOS") {
    assert(ArrowCodec.decode(fixture("trunc-05.arrow")).isEmpty)
    assert(ArrowCodec.decode(fixture("garbage-11.arrow")).isEmpty)
    // one flipped byte in a compressed body must refuse, not throw
    val z = fixture("zstdipc-03.arrow")
    var j = z.length / 3
    val fz = new FuzzDigest
    while (j < z.length / 3 + 40 && j < z.length) {
      val m = z.clone(); m(j) = (m(j) ^ 0x5a).toByte
      fz.add(ArrowCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "40/0:40d69e0cf0f65c45", fz.hex)
  }

  test("hostile bytes never throw: truncations and fuzz over both framings") {
    val file = fixture("embed-01.arrow")
    val stream = fixture("stream-02.arrow")
    assert(ArrowCodec.decode(Array.emptyByteArray).isEmpty)
    val fz = new FuzzDigest
    (0 until file.length by 7).foreach { k =>
      fz.add(ArrowCodec.decode(file.take(k)))
      fz.add(ArrowCodec.decode(stream.take(math.min(k, stream.length))))
    }
    var j = 0
    while (j < file.length) {
      val m = file.clone(); m(j) = 0x55
      fz.add(ArrowCodec.decode(m))
      j += 1
    }
    j = 0
    while (j < stream.length) {
      val m = stream.clone(); m(j) = (m(j) ^ 0x81).toByte
      fz.add(ArrowCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "2258/1046:3d982720035e3520", fz.hex)
  }

  test("writer round-trips through the codec; committed fixture is byte-stable") {
    val ids = Array(11L, -42L, Long.MinValue)
    val emb = Array(0.5f, -0.0f, Float.NaN, 3.5f, -0.75f, 0.0625f,
      1e-8f, Float.PositiveInfinity, -2.5f)
    val bytes = graft.sources.ArrowWrite.encodeFile(ids, emb, 3)
    val cells = ArrowCodec.decode(bytes).get
    assert(cells.count(_.col == "id") == 3)
    assert(cells.filter(_.col == "id").flatMap(_.bits) ==
      Vector(11L, -42L, Long.MinValue))
    val v = cells.filter(c => c.col == "embedding" && c.row == 0).flatMap(_.bits)
    assert(v == Vector(0x3f000000L, 0x80000000L, 0x7fc00000L))
    // identical input → identical bytes (the committed sink-06 fixture
    // stays reproducible; pyarrow re-verifies it in tools/arrow_golden.py)
    val n = 7; val dim = 4
    val fids = Array.tabulate(n)(i => (i * 37 - 3).toLong)
    val femb = Array.tabulate(n * dim)(k => (k * k % 29) * 0.25f - 1.5f)
    val expected = fixture("sink-06.arrow")
    assert(graft.sources.ArrowWrite.encodeFile(fids, femb, dim)
      .sameElements(expected))
  }

  test("text writer round-trips through the codec; committed fixture is byte-stable") {
    // the (id, text) HF-export shape: utf8 offsets + data, unicode
    // and empty strings exact; fixture re-read by pyarrow in
    // tools/arrow_golden.py and byte-pinned here (regenerate with
    // `sbt "runMain graft.tools.FixtureGen arrow"`)
    val ids = Array(1000L, 1001L, 1002L, 1003L)
    val txt = Array("the quick brown fox", "", "café — naïve £9", "line\nbreak")
    val bytes = graft.sources.ArrowWrite.encodeTextFile(ids, txt)
    val cells = ArrowCodec.decode(bytes).get
    assert(cells.filter(_.col == "id").flatMap(_.bits) == ids.toVector)
    assert(cells.filter(_.col == "text").map(_.str.get) == txt.toVector)
    assert(bytes.sameElements(fixture("sinktext-17.arrow")))
  }

  test("stream-framing writer round-trips and matches the committed fixture") {
    val ids = Array(5L, 6L)
    val emb = Array(1.5f, -2.5f, 0.25f, 8f, 9f, 10f)
    val bytes = graft.sources.ArrowWrite.encodeStream(ids, emb, 3)
    val cells = ArrowCodec.decode(bytes).get
    assert(cells.filter(_.col == "id").flatMap(_.bits) == Vector(5L, 6L))
    assert(cells.count(_.col == "embedding") == 6)
    // committed stream fixture stays byte-reproducible (pyarrow
    // re-verifies it in tools/arrow_golden.py)
    val n = 5; val dim = 2
    val fids = Array.tabulate(n)(i => 900L + i)
    val femb = Array.tabulate(n * dim)(k => (k % 13) * 0.5f - 2f)
    assert(graft.sources.ArrowWrite.encodeStream(fids, femb, dim)
      .sameElements(fixture("sinkstream-07.arrow")))
  }

  test("sink writes shards the scan reads back; ids and values exact") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = (0 until 9)
      .map(i => (i.toLong, Array.tabulate(4)(k => i + k * 0.5f)))
      .toDF("id", "embedding").repartition(2, col("id"))
    val dir = java.nio.file.Files.createTempDirectory("arrowsink").toString
    graft.sources.Sinks.writeArrowShards(df, dir, 4)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
    val back = graft.sources.GeoIngest.arrow.read(spark, dir)
    val idBits = back.filter(col("col") === "id")
      .select(col("bits")).as[Long].collect().sorted
    assert(idBits.toSeq == (0L until 9L))
    assert(back.filter(col("col") === "embedding").count() == 36)
  }

  test("text shard sink writes files the scan reads back; strings exact") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = (0 until 7)
      .map(i => (100L + i, s"doc $i — body ${"x" * i}"))
      .toDF("id", "text").repartition(2)
    val dir = java.nio.file.Files.createTempDirectory("arrowtext").toString
    graft.sources.Sinks.writeArrowTextShards(df, dir, rowsPerShard = 3)
    assert(new java.io.File(dir, "_SUCCESS").exists())
    val back = graft.sources.GeoIngest.arrow.read(spark, dir)
    val texts = back.filter(col("col") === "text")
      .select("str_val").collect().map(_.getString(0)).sorted
    assert(texts.toSeq ==
      (0 until 7).map(i => s"doc $i — body ${"x" * i}").sorted)
    val ids = back.filter(col("col") === "id")
      .select("bits").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (100L until 107L))
  }

  test("distributed ingest: one row per cell per file, corrupt files skipped") {
    val dir = java.nio.file.Files.createTempDirectory("arrowscan").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "t.arrow"), fixture("stream-02.arrow"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "bad.arrow"), Array[Byte](65, 82, 82))
    val rows = graft.sources.GeoIngest.arrow.read(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(2)))
    assert(rows.length == 6)
    assert(rows.forall(_._1 == "t.arrow"))
  }

  test("struct under list<struct> and map values: conjunction gates; deeper refuses") {
    // liststructstruct-26: a NULL element gates the whole subtree —
    // the struct kid's cell AND its grandkid leaves read null
    val cs = ArrowCodec.decode(fixture("liststructstruct-26.arrow")).get
    def at(n: String, r: Long, e: Long) =
      cs.filter(c => c.col == n && c.row == r && c.elem.contains(e))
    // row 3 el 0 is a null element: struct kid + leaves all null
    assert(at("qa", 3, 0).head.isNull)
    assert(at("qa.meta", 3, 0).head.isNull)
    assert(at("qa.meta.score", 3, 0).head.isNull)
    assert(at("qa.meta.ok", 3, 0).head.isNull)
    // row 3 el 1: element valid, meta itself null -> kid null, leaves null
    assert(!at("qa", 3, 1).head.isNull)
    assert(at("qa.meta", 3, 1).head.isNull)
    assert(at("qa.meta.score", 3, 1).head.isNull)
    // row 0 el 0: fully populated
    assert(!at("qa.meta", 0, 0).head.isNull)
    assert(at("qa.meta.score", 0, 0).head.bits ==
      Some(java.lang.Double.doubleToLongBits(0.9)))
    assert(at("qa.meta.ok", 0, 0).head.bits == Some(1L))
    // row 3 el 2: meta valid, ok is a null LEAF inside a valid struct
    assert(!at("qa.meta", 3, 2).head.isNull)
    assert(at("qa.meta.ok", 3, 2).head.isNull)
    // mapstruct-27: per-entry value records; a null value struct
    val ms = ArrowCodec.decode(fixture("mapstruct-27.arrow")).get
    def mat(n: String, r: Long, e: Long) =
      ms.filter(c => c.col == n && c.row == r && c.elem.contains(e))
    assert(mat("m.value.n", 0, 0).head.bits == Some(100L))
    assert(mat("m.value", 3, 0).head.isNull)   // ("dev", None)
    assert(mat("m.value.n", 3, 0).head.isNull)
    // a struct kid carrying a non-scalar child refuses whole-file
    assert(ArrowCodec.decode(fixture("liststructdeep-28.arrow")).isEmpty,
      "struct-inside-struct under list<struct> must refuse")
    // hostile-bytes sweep over the new graded fixture: never throws
    val f = fixture("liststructstruct-26.arrow")
    val fz = new FuzzDigest
    (0 until f.length by 7).foreach(k => fz.add(ArrowCodec.decode(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x5c).toByte
      fz.add(ArrowCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "1868/948:e722ee1d6a810e48", fz.hex)
  }

  test("top-level sparse and dense unions of scalar branches decode") {
    val cells = ArrowCodec.decode(fixture("union-29.arrow")).get
    def col(n: String) = cells.filter(_.col == n).sortBy(_.row)
    // sparse: type ids [0,1,0,1,0] over (i64, utf8); slot 3 selects a
    // null utf8 slot, slot 0/2/4 live i64 values
    assert(col("us").map(c => (c.vtype, c.isNull, c.bits, c.str)) == Vector(
      ("i64", false, Some(11L), None),
      ("utf8", false, None, Some("b")),
      ("i64", false, Some(13L), None),
      ("utf8", true, None, None),
      ("i64", false, Some(15L), None)))
    // dense: type ids [0,2,1,0,2], offsets [0,0,0,1,1]; slot 3 hits
    // the i64 child's NULL slot, slot 4 the f64 child's second value
    assert(col("ud").map(c => (c.vtype, c.isNull)) == Vector(
      ("i64", false), ("f64", false), ("utf8", false),
      ("i64", true), ("f64", false)))
    assert(col("ud")(2).str == Some("only"))
    assert(col("ud")(4).bits ==
      Some(java.lang.Double.doubleToLongBits(-2.25)))
    // a union carrying a nested branch refuses whole-file
    assert(ArrowCodec.decode(fixture("unionnested-30.arrow")).isEmpty,
      "nested union branch must refuse")
    // large_list<i64>: 64-bit offsets, list<i64> cell conventions
    val ll = ArrowCodec.decode(fixture("largelist-31.arrow")).get
      .filter(_.col == "toks")
    assert(ll.filter(_.row == 0).map(c => (c.elem, c.bits, c.isNull)) ==
      Vector((Some(0L), Some(7L), false), (Some(1L), None, true),
        (Some(2L), Some(9L), false)))
    val llNull = ll.filter(_.row == 1)
    assert(llNull.size == 1 && llNull.head.isNull &&
      llNull.head.vtype == "llist<i64>")
    assert(ll.count(_.row == 2) == 0, "empty large list emits nothing")
    assert(ll.filter(_.row == 3).map(_.bits) == Vector(Some(42L)))
    // hostile-bytes sweep: never throws
    val f = fixture("union-29.arrow")
    val fz = new FuzzDigest
    (0 until f.length by 7).foreach(k => fz.add(ArrowCodec.decode(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x5c).toByte
      fz.add(ArrowCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "1795/868:0a06f755f73548a1", fz.hex)
  }

  test("Utf8View/BinaryView columns decode; nested views refuse") {
    // view-32: two batches; values straddle the 12-byte inline line
    // in both directions, so inline reads, variadic-buffer reads and
    // the prefix-mirror invariant all execute
    val cells = ArrowCodec.decode(fixture("view-32.arrow")).get
    def at(n: String, b: Int, r: Long) =
      cells.filter(c => c.col == n && c.batch == b && c.row == r).head
    assert(at("txt", 0, 0).str == Some("inline"))          // 6 bytes: inline
    assert(at("txt", 0, 1).str == Some("a" * 13 + "LONG-one")) // 21: variadic
    assert(at("txt", 0, 2).isNull)
    assert(at("txt", 0, 3).str == Some(""))                 // empty inline
    assert(at("txt", 0, 4).str == Some("exactly12byt"))     // 12: inline edge
    assert(at("blob", 0, 0).str == Some("0001"))
    assert(at("blob", 0, 2).str ==
      Some(("42" * 40) + "7461696c"))                       // 44 bytes: variadic
    assert(at("blob", 0, 4).str == Some("ff" * 12))         // 12: inline edge
    assert(at("txt", 1, 0).str == Some("batch2-" + "y" * 30))
    assert(at("blob", 1, 1).str == Some("07" * 13))         // 13: variadic
    assert(at("blob", 1, 2).str == Some("6f6b"))
    assert(cells.count(_.col == "txt") == 8)
    assert(cells.count(_.col == "blob") == 8)
    // a view nested under a list refuses whole-file
    assert(ArrowCodec.decode(fixture("viewnested-33.arrow")).isEmpty,
      "list<string_view> must refuse")
    // hostile-bytes sweep: never throws (the prefix-mirror check and
    // variadic bounds turn corruption into refusals)
    val f = fixture("view-32.arrow")
    val fz = new FuzzDigest
    (0 until f.length by 7).foreach(k => fz.add(ArrowCodec.decode(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x5c).toByte
      fz.add(ArrowCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "1520/673:0799901c86c20216", fz.hex)
  }

  test("ListView/LargeListView columns decode; nested child refuses") {
    val cells = ArrowCodec.decode(fixture("listview-34.arrow")).get
    def at(n: String, r: Long) =
      cells.filter(c => c.col == n && c.row == r).sortBy(_.elem)
    // lv = [[1,null,3], null, [], [7,8]]
    assert(at("lv", 0).map(_.bits) ==
      Seq(Some(1L), None, Some(3L)))
    assert(at("lv", 1).head.isNull && at("lv", 1).head.elem.isEmpty &&
      at("lv", 1).head.vtype == "lview<i64>")
    assert(at("lv", 2).isEmpty) // empty list: no cells
    assert(at("lv", 3).map(_.bits) == Seq(Some(7L), Some(8L)))
    // llv = [["alpha",null], ["b"*20], null, []]
    assert(at("llv", 0).map(_.str) == Seq(Some("alpha"), None))
    assert(at("llv", 1).head.str == Some("b" * 20))
    assert(at("llv", 2).head.isNull &&
      at("llv", 2).head.vtype == "llview<utf8>")
    assert(at("llv", 3).isEmpty)
    // nested list-view child refuses whole-file
    assert(ArrowCodec.decode(fixture("listviewnested-35.arrow")).isEmpty,
      "list_view<list<i64>> must refuse")
    // hostile-bytes sweep: never throws
    val f = fixture("listview-34.arrow")
    val fz = new FuzzDigest
    (0 until f.length by 7).foreach(k => fz.add(ArrowCodec.decode(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x5c).toByte
      fz.add(ArrowCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "1301/601:2c87d06d25358748", fz.hex)
  }
}
