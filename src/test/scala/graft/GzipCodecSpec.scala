package graft

import graft.sources.{GeoIngest, GzipCodec, Sinks}
import org.apache.spark.sql.functions._

/** RFC 1952 gzip codec: decoder golden-pinned against Python
  * `gzip.compress(payload, mtime=0)` output (a foreign zlib stream the
  * decoder must walk faithfully), encoder round-trip, the refusal
  * contract for corrupt members, and the distributed sink→scan path. */
class GzipCodecSpec extends SparkSpec {

  private val goldenPayload =
    "{\"doc_id\":1,\"text\":\"the quick brown fox\"}\n" +
    "{\"doc_id\":2,\"text\":\"jumps over\"}\n"

  // python3: gzip.compress(payload.encode(), mtime=0)
  private val goldenGz: Array[Byte] = Array[Int](
    0x1f, 0x8b, 0x08, 0x00, 0x00, 0x00, 0x00, 0x00, 0x02, 0x03, 0xab, 0x56,
    0x4a, 0xc9, 0x4f, 0x8e, 0xcf, 0x4c, 0x51, 0xb2, 0x32, 0xd4, 0x51, 0x2a,
    0x49, 0xad, 0x28, 0x51, 0xb2, 0x52, 0x2a, 0xc9, 0x48, 0x55, 0x28, 0x2c,
    0xcd, 0x4c, 0xce, 0x56, 0x48, 0x2a, 0xca, 0x2f, 0xcf, 0x53, 0x48, 0xcb,
    0xaf, 0x50, 0xaa, 0xe5, 0xaa, 0x86, 0xab, 0x34, 0x82, 0xab, 0xcc, 0x2a,
    0xcd, 0x2d, 0x28, 0x56, 0xc8, 0x2f, 0x4b, 0x2d, 0x02, 0x2a, 0x00, 0x00,
    0xe4, 0x9e, 0xb6, 0x0f, 0x4b, 0x00, 0x00, 0x00).map(_.toByte)

  test("decodes a Python-gzip golden member (no FNAME, foreign deflate stream)") {
    val gz = GzipCodec.decode(goldenGz)
    assert(gz.isDefined, "golden member refused")
    assert(gz.get.name == "", "gzip.compress writes no FNAME")
    assert(new String(gz.get.data, "UTF-8") == goldenPayload)
  }

  test("encode→decode round-trips payload and FNAME") {
    val data = ("x" * 10000 + goldenPayload).getBytes("UTF-8")
    val enc = GzipCodec.encode("shard_0.jsonl", data)
    assert(enc.length < data.length, "compressible payload did not shrink")
    val dec = GzipCodec.decode(enc)
    assert(dec.isDefined)
    assert(dec.get.name == "shard_0.jsonl")
    assert(dec.get.data.toSeq == data.toSeq)
    // the encoder's exact bytes, pinned so a writer refactor stays identical
    assert(Sha256.hex(Seq(enc)) == "74d7d891673f277de3137a1f8e9268670b1ea66579957477d05aec3a7e18d562", Sha256.hex(Seq(enc)))
  }

  test("refusal contract: every corruption class returns None, never throws") {
    val good = GzipCodec.encode("a.jsonl", goldenPayload.getBytes("UTF-8"))
    def mutate(i: Int, b: Byte) = { val c = good.clone(); c(i) = b; c }
    assert(GzipCodec.decode(Array.emptyByteArray).isEmpty, "empty")
    assert(GzipCodec.decode(good.take(17)).isEmpty, "shorter than min member")
    assert(GzipCodec.decode(mutate(0, 0x00)).isEmpty, "bad magic")
    assert(GzipCodec.decode(mutate(2, 7)).isEmpty, "non-deflate CM")
    assert(GzipCodec.decode(mutate(3, 0xe0.toByte)).isEmpty, "reserved FLG bits")
    assert(GzipCodec.decode(good.dropRight(9)).isEmpty, "truncated body+trailer")
    // flip one bit inside the compressed body → inflate error or CRC fail
    assert(GzipCodec.decode(mutate(good.length - 12, 0x55)).isEmpty, "corrupt body")
    // flip the stored CRC → trailer check fails on an intact body
    assert(GzipCodec.decode(mutate(good.length - 8,
      (good(good.length - 8) ^ 0xff).toByte)).isEmpty, "CRC mismatch")
    // flip ISIZE → length check fails
    assert(GzipCodec.decode(mutate(good.length - 4,
      (good(good.length - 4) ^ 0xff).toByte)).isEmpty, "ISIZE mismatch")
  }

  test("optional header fields: FEXTRA + FCOMMENT + FHCRC are walked correctly") {
    // hand-build a member with all optional fields around the golden body
    val bare = GzipCodec.encode("", goldenPayload.getBytes("UTF-8"))
    val body = bare.drop(10) // deflate stream + trailer
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x1f.toByte, 0x8b.toByte, 8, (0x04 | 0x10 | 0x02).toByte,
      0, 0, 0, 0, 0, 0xff.toByte))
    out.write(Array[Byte](3, 0, 1, 2, 3))          // FEXTRA: xlen=3 + payload
    out.write("a comment".getBytes("ISO-8859-1")); out.write(0) // FCOMMENT
    out.write(Array[Byte](0x12, 0x34))             // FHCRC (unchecked)
    out.write(body)
    val dec = GzipCodec.decode(out.toByteArray)
    assert(dec.isDefined, "all-optional-fields member refused")
    assert(new String(dec.get.data, "UTF-8") == goldenPayload)
  }

  test("multi-member file (pigz/cat *.gz form) concatenates payloads; garbage after trailer refused") {
    // RFC 1952 §2.2: a gzip file is a SERIES of members; `cat a.gz b.gz`
    // and pigz/bgzip output are the common producers. Python:
    // gzip.decompress(a + b) == payload_a + payload_b.
    val a = GzipCodec.encode("first.jsonl", "{\"doc_id\":1}\n".getBytes("UTF-8"))
    val b = GzipCodec.encode("second.jsonl", "{\"doc_id\":2}\n".getBytes("UTF-8"))
    val dec = GzipCodec.decode(a ++ b)
    assert(dec.isDefined, "two-member file refused")
    assert(dec.get.name == "first.jsonl", "name must come from the first member")
    assert(new String(dec.get.data, "UTF-8") == "{\"doc_id\":1}\n{\"doc_id\":2}\n")
    // three members, one golden foreign stream in the middle
    val dec3 = GzipCodec.decode(a ++ goldenGz ++ b)
    assert(dec3.isDefined)
    assert(new String(dec3.get.data, "UTF-8") ==
      "{\"doc_id\":1}\n" + goldenPayload + "{\"doc_id\":2}\n")
    // a corrupt SECOND member poisons the whole file (skip contract —
    // silently returning half the lines is the bug this guards against)
    val badTail = b.clone(); badTail(badTail.length - 4) = (badTail(badTail.length - 4) ^ 0xff).toByte
    assert(GzipCodec.decode(a ++ badTail).isEmpty, "corrupt trailing member accepted")
    // non-gzip garbage after a valid trailer likewise refuses
    assert(GzipCodec.decode(a ++ "not gzip".getBytes("UTF-8")).isEmpty,
      "trailing garbage accepted")
  }

  test("sink→scan round-trip across partitions; corrupt shard skipped") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("jsonlgz").toString
    val rows = (1 to 20).map(i => (f"k$i%03d", s"""{"i":$i}"""))
    Sinks.writeJsonlGz(
      rows.toDF("key", "json").repartition(3), dir, recordsPerShard = 4)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
    val back = GeoIngest.jsonlGz.read(spark, dir)
    assert(back.count() == 20)
    // every line round-trips; member names match their shard files
    val lines = back.select("line").as[String].collect().toSet
    assert(lines == rows.map(_._2).toSet)
    val badNames = back.filter(!col("shard").startsWith("shard_")).count()
    assert(badNames == 0)
    // corrupt shard: truncated member must be skipped, not fatal
    val victim = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".gz")).findFirst().get()
    val bytes = java.nio.file.Files.readAllBytes(victim)
    java.nio.file.Files.write(victim, bytes.take(bytes.length / 2))
    val after = GeoIngest.jsonlGz.read(spark, dir).count()
    assert(after < 20, "corrupt shard still contributed rows")
    assert(after > 0, "one corrupt shard killed the whole scan")
  }

  test("zst sink→scan round-trip across partitions; frame carries content size") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("jsonlzst").toString
    val rows = (1 to 20).map(i => (f"k$i%03d", s"""{"i":$i}"""))
    graft.sources.Sinks.writeJsonlZst(
      rows.toDF("key", "json").repartition(3), dir, recordsPerShard = 4)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
    val back = graft.sources.GeoIngest.jsonlZst.read(spark, dir)
    assert(back.count() == 20)
    assert(back.select("line").as[String].collect().toSet == rows.map(_._2).toSet)
    // single-shot frames must carry the content size (FCS) so one-shot
    // decompressors (pyarrow cross-reads the committed sink fixture)
    // can allocate: descriptor FCS flag != 0 or single-segment set
    val shard = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".zst")).findFirst().get()
    val b = java.nio.file.Files.readAllBytes(shard)
    val fhd = b(4) & 0xff
    assert((fhd >> 6) != 0 || ((fhd >> 5) & 1) == 1, f"no FCS: fhd=$fhd%02x")
  }

  test("hostile bytes never throw: every truncation and flip, digest-pinned") {
    val d = FuzzDigest.sweep(goldenGz)(GzipCodec.decode)
    assert(d == "160/6:e083607551c052a3", d)
  }
}
