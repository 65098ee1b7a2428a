package graft

import graft.sources.SafetensorsCodec

/** Contract specs for the safetensors codec: strict header parsing,
  * span-tiling validation, bit-exact element emission, and the
  * whole-file refusal contract under hostile bytes. Valid shards here
  * are assembled in-test by a tiny independent builder; cross-writer
  * pinning against the hand-encoding Python writer runs through the
  * oracle-graded q_safetensors_read. */
class SafetensorsCodecSpec extends SparkSpec {

  /** Assemble a shard from a literal JSON header and raw data. */
  private def shard(header: String, data: Array[Byte]): Array[Byte] = {
    val h = header.getBytes("UTF-8")
    val out = new Array[Byte](8 + h.length + data.length)
    var i = 0
    while (i < 8) { out(i) = ((h.length.toLong >> (8 * i)) & 0xff).toByte; i += 1 }
    System.arraycopy(h, 0, out, 8, h.length)
    System.arraycopy(data, 0, out, 8 + h.length, data.length)
    out
  }

  private def le(width: Int, vs: Long*): Array[Byte] =
    vs.flatMap(v => (0 until width).map(k => ((v >> (8 * k)) & 0xff).toByte)).toArray

  private val basic = shard(
    """{"a":{"dtype":"F32","shape":[2,2],"data_offsets":[0,16]},""" +
      """"b":{"dtype":"I64","shape":[2],"data_offsets":[16,32]}}""",
    le(4, 0x3f800000L, 0xbf800000L, 0x7fc00001L, 0x80000000L) ++
      le(8, -5L, Long.MinValue))

  test("elements decode row-major with raw LE bits; NaN payloads and sign bits exact") {
    val es = SafetensorsCodec.decode(basic).get
    assert(es.map(_.name) == Vector("a", "a", "a", "a", "b", "b"))
    assert(es.map(_.bits) == Vector(
      0x3f800000L, 0xbf800000L, 0x7fc00001L, 0x80000000L, -5L, Long.MinValue))
    assert(es.head.shape == "2x2" && es.head.dtype == "F32")
    assert(es.map(_.idx) == Vector(0L, 1L, 2L, 3L, 0L, 1L))
  }

  test("0-d scalar, zero-size tensor, metadata block, padded header all pass") {
    val s = shard(
      """{"__metadata__":{"k":"v"},""" +
        """"s":{"dtype":"F64","shape":[],"data_offsets":[0,8]},""" +
        """"z":{"dtype":"U8","shape":[0,4],"data_offsets":[8,8]}}  """,
      le(8, java.lang.Double.doubleToLongBits(2.5)))
    val es = SafetensorsCodec.decode(s).get
    assert(es.size == 1)
    assert(es.head.name == "s" && es.head.shape == "" && es.head.idx == 0)
    assert(java.lang.Double.longBitsToDouble(es.head.bits) == 2.5)
  }

  test("escaped and unicode names survive the strict parser") {
    val s = shard(
      """{"pé\t\"q":{"dtype":"U8","shape":[1],"data_offsets":[0,1]}}""",
      Array[Byte](9))
    val es = SafetensorsCodec.decode(s).get
    assert(es.head.name == "pé\t\"q" && es.head.bits == 9L)
  }

  test("structural refusals: overlap, gap, slack, size mismatch, dup names, bad dtype") {
    def one(h: String, d: Array[Byte]) = SafetensorsCodec.decode(shard(h, d))
    // size-correct overlapping spans
    assert(one(
      """{"a":{"dtype":"F32","shape":[2],"data_offsets":[0,8]},""" +
        """"b":{"dtype":"F32","shape":[2],"data_offsets":[4,12]}}""",
      new Array[Byte](12)).isEmpty)
    // gap between spans
    assert(one(
      """{"a":{"dtype":"F32","shape":[1],"data_offsets":[0,4]},""" +
        """"b":{"dtype":"F32","shape":[1],"data_offsets":[8,12]}}""",
      new Array[Byte](12)).isEmpty)
    // trailing slack after the last span
    assert(one(
      """{"a":{"dtype":"F32","shape":[1],"data_offsets":[0,4]}}""",
      new Array[Byte](8)).isEmpty)
    // span length vs shape*sizeof mismatch
    assert(one(
      """{"a":{"dtype":"F32","shape":[3],"data_offsets":[0,8]}}""",
      new Array[Byte](8)).isEmpty)
    // duplicate tensor names
    assert(one(
      """{"a":{"dtype":"U8","shape":[1],"data_offsets":[0,1]},""" +
        """"a":{"dtype":"U8","shape":[1],"data_offsets":[1,2]}}""",
      new Array[Byte](2)).isEmpty)
    // unknown dtype
    assert(one(
      """{"a":{"dtype":"F4","shape":[2],"data_offsets":[0,1]}}""",
      new Array[Byte](1)).isEmpty)
    // non-string metadata value
    assert(one(
      """{"__metadata__":{"k":3},"a":{"dtype":"U8","shape":[1],"data_offsets":[0,1]}}""",
      new Array[Byte](1)).isEmpty)
    // trailing bytes after the closing brace (not whitespace)
    assert(one(
      """{"a":{"dtype":"U8","shape":[1],"data_offsets":[0,1]}}x""",
      new Array[Byte](1)).isEmpty)
  }

  test("hostile bytes never throw: truncations and single-byte fuzz refuse or decode") {
    assert(SafetensorsCodec.decode(Array.emptyByteArray).isEmpty)
    val fz = new FuzzDigest
    (0 until basic.length).foreach { k =>
      fz.add(SafetensorsCodec.decode(basic.take(k)))
    }
    var j = 0
    while (j < basic.length) {
      val m = basic.clone(); m(j) = 0x55
      fz.add(SafetensorsCodec.decode(m))
      j += 1
    }
    // header length field claiming past EOF, and a giant header claim
    val big = basic.clone(); big(0) = -1; big(6) = 0x7f
    assert(SafetensorsCodec.decode(big).isEmpty)
    assert(fz.hex == "304/36:7f28fc408ec7dac7", fz.hex)
  }

  test("element budget refuses a shard claiming billions of elements") {
    // one element over MaxElems, with a real matching data region
    val s = shard(
      """{"a":{"dtype":"U8","shape":[4194305],"data_offsets":[0,4194305]}}""",
      new Array[Byte](4194305))
    assert(SafetensorsCodec.decode(s).isEmpty)
    val huge = shard(
      """{"a":{"dtype":"U8","shape":[9007199254740992,9007199254740992],""" +
        """"data_offsets":[0,1]}}""",
      new Array[Byte](1))
    assert(SafetensorsCodec.decode(huge).isEmpty)
  }

  test("encoder is byte-identical to the independent Python writer") {
    val expected = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.base, "q_safetensors_read", "sinkparity-06.safetensors"))
    def f32le(vs: Float*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(vs.size * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vs.foreach(b.putFloat); b.array()
    }
    def i64le(vs: Long*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(vs.size * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vs.foreach(b.putLong); b.array()
    }
    val mine = SafetensorsCodec.encode(Seq(
      ("embeddings", "F32", Seq(2L, 3L),
        f32le(0.5f, -1.25f, 2.0f, 3.5f, -0.75f, 0.0625f)),
      ("ids", "I64", Seq(2L), i64le(11L, -42L))))
    assert(mine.sameElements(expected))
  }

  test("sink writes decodable shards; read back round-trips ids and values") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = (0 until 10)
      .map(i => (i.toLong, Array.tabulate(4)(k => i * 10f + k * 0.25f)))
      .toDF("id", "embedding").repartition(2, col("id"))
    val dir = java.nio.file.Files.createTempDirectory("stsink").toString
    graft.sources.Sinks.writeSafetensorsShards(df, dir, 3)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
    val back = graft.sources.GeoIngest.safetensors.read(spark, dir)
    val embRows = back.filter(col("tensor") === "embeddings").count()
    val idRows = back.where(col("tensor") === "ids")
      .select(col("bits")).as[Long].collect().sorted
    assert(embRows == 40 && idRows.toSeq == (0L until 10L))
    // one shard decodes with aligned [n,dim] shape
    val shard = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".safetensors")).findFirst().get()
    val es = SafetensorsCodec.decode(
      java.nio.file.Files.readAllBytes(shard)).get
    val emb = es.filter(_.name == "embeddings")
    val n = es.count(_.name == "ids")
    assert(emb.head.shape == s"${n}x4" && emb.size == n * 4)
  }

  test("distributed ingest: one row per element per file, corrupt shards skipped") {
    val dir = java.nio.file.Files.createTempDirectory("stscan").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "good_a.safetensors"), basic)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "bad.safetensors"), Array[Byte](1, 2, 3))
    val rows = graft.sources.GeoIngest.safetensors.read(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(5)))
    assert(rows.length == 6)
    assert(rows.count(_._1 == "good_a.safetensors") == 6)
    assert(rows.exists(t => t._2 == "b" && t._3 == Long.MinValue))
  }
}
