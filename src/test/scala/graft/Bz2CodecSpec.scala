package graft

import graft.sources.{Bz2Codec, Compression}

/** Contract specs for the bzip2 codec: multi-stream decode, the
  * refusal contract (magic gate, truncation, trailing garbage,
  * inflation cap), and never-throw under hostile bytes. Valid shards
  * here come from the PLATFORM's own compressor (an independent
  * encoder); cross-writer pinning against Python's bz2 runs through
  * the oracle-graded q_jsonl_bz2. */
class Bz2CodecSpec extends SparkSpec {

  private def compress(data: Array[Byte], level: Int = 9): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(bos, level)
    z.write(data); z.close()
    bos.toByteArray
  }

  private val text = ("the rains reached the basin\n" * 40).getBytes("UTF-8")

  test("single stream round-trips; concatenated streams decode as one payload") {
    assert(Bz2Codec.decode(compress(text)).get.sameElements(text))
    val two = compress(text.take(100), 1) ++ compress(text.drop(100), 9)
    assert(Bz2Codec.decode(two).get.sameElements(text))
  }

  test("refusals: bad magic, bad level digit, truncation, trailing garbage") {
    assert(Bz2Codec.decode(Array.emptyByteArray).isEmpty)
    assert(Bz2Codec.decode("BZh0not a level".getBytes).isEmpty)
    assert(Bz2Codec.decode("GZhh123456789".getBytes).isEmpty)
    val good = compress(text)
    assert(Bz2Codec.decode(good.dropRight(6)).isEmpty)
    assert(Bz2Codec.decode(good ++ "garbage".getBytes).isEmpty)
  }

  test("inflation cap: a shard expanding past the budget refuses") {
    val huge = compress(new Array[Byte](Compression.MaxInflatedBytes + 1))
    assert(huge.length < (1 << 20)) // zeros compress tiny: a real bomb shape
    assert(Bz2Codec.decode(huge).isEmpty)
  }

  test("hostile bytes never throw: single-byte fuzz over a valid shard") {
    val good = compress(text, 1)
    var j = 0
    while (j < good.length) {
      val m = good.clone(); m(j) = (m(j) ^ 0x5a).toByte
      Bz2Codec.decode(m)
      j += 1
    }
  }

  test("distributed ingest: per-line rows, corrupt and garbage shards skipped") {
    val fx = graft.Fixtures.path("q_jsonl_bz2")
    val df = graft.sources.GeoIngest.jsonlBz2.read(spark, fx)
    val byShard = df.groupBy("shard").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byShard == Map(
      "docs-00.jsonl.bz2" -> 12L,
      "docs-01.jsonl.bz2" -> 14L,
      "docs-02.jsonl.bz2" -> 9L))
  }
}
