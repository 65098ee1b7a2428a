package graft

import java.nio.file.{Files, Paths}
import graft.sources.{GeoIngest, Sinks, TarCodec}
import graft.sources.TarCodec.Member

class TarCodecSpec extends SparkSpec {

  /** Python `tarfile` USTAR output (mode 0644, uid/gid 0, mtime 0) for
    * members 000001.txt="hello world", 000001.cls="7",
    * 000002.txt="second doc" — zlib+base64 to keep the 10 KiB archive
    * (tarfile pads to RECORDSIZE) reviewable. Cross-implementation
    * golden: our decoder must read the real thing and our encoder must
    * be byte-identical over the member blocks. */
  private val goldenTar: Array[Byte] = {
    val b64 = "eJzt1UEOwiAQheEehRM0gFXOY6CJCyJJwejxRVw06aIbQ8fF/22GsHmzeRmtKz" +
      "OWVxm6+URcpqnNajtr/ml9t39nrR6U7rfS6pHLdamRR2T9odscY1LPtMQgvQoEfPs3+pj7" +
      "Zuz2X5tt/83Z0f8jOOkFIKo1zkrff8v9F5Jnn+5BheSlNwEAAAAAAAAAAAAA/OINrlY03w=="
    val compressed = java.util.Base64.getDecoder.decode(b64)
    val inf = new java.util.zip.Inflater()
    inf.setInput(compressed)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      if (n == 0 && inf.needsInput()) throw new IllegalStateException("bad golden")
      out.write(buf, 0, n)
    }
    out.toByteArray
  }

  private val members = Seq(
    Member("000001.txt", "hello world".getBytes("US-ASCII")),
    Member("000001.cls", "7".getBytes("US-ASCII")),
    Member("000002.txt", "second doc".getBytes("US-ASCII")))

  test("decode reads a real Python-tarfile USTAR archive") {
    assert(goldenTar.length == 10240)
    val ms = TarCodec.decode(goldenTar).get
    assert(ms.map(_.name) == members.map(_.name))
    assert(ms.map(m => new String(m.data, "US-ASCII")) ==
      Seq("hello world", "7", "second doc"))
  }

  test("encode is byte-identical to Python tarfile over the member blocks") {
    val mine = TarCodec.encode(members)
    // tarfile pads the archive tail to RECORDSIZE; the member blocks +
    // the two-block trailer must match exactly and the rest be zeros
    assert(mine.toSeq == goldenTar.take(mine.length).toSeq,
      s"diverges at byte ${mine.toSeq.zip(goldenTar.toSeq).indexWhere { case (a, b) => a != b }}")
    assert(goldenTar.drop(mine.length).forall(_ == 0))
  }

  test("round-trip and webdataset grouping") {
    val ms = TarCodec.decode(TarCodec.encode(members)).get
    assert(ms.map(_.name) == members.map(_.name))
    val grouped = TarCodec.groupByKey(ms)
    assert(grouped.map(_._1) == Seq("000001", "000002"))
    assert(grouped.head._2.keySet == Set("txt", "cls"))
    assert(new String(grouped.head._2("cls"), "US-ASCII") == "7")
  }

  test("duplicate member names resolve last-wins, like tar -x; dot-less names keep the empty part key") {
    val dup = Seq(
      TarCodec.Member("000009.txt", "first".getBytes("US-ASCII")),
      TarCodec.Member("000009.txt", "second".getBytes("US-ASCII")),
      TarCodec.Member("README", "plain".getBytes("US-ASCII")))
    val grouped = TarCodec.groupByKey(TarCodec.decode(TarCodec.encode(dup)).get)
    val rec = grouped.find(_._1 == "000009").get._2
    assert(new String(rec("txt"), "US-ASCII") == "second",
      "later archive member must shadow the earlier one")
    assert(grouped.find(_._1 == "README").get._2.keySet == Set(""),
      "dot-less member keeps the whole name as key, empty part")
  }

  test("decode refuses corrupt archives instead of throwing") {
    val ok = TarCodec.encode(members)
    val badSum = ok.clone(); badSum(150) = '9'
    assert(TarCodec.decode(badSum).isEmpty, "checksum mismatch must be refused")
    assert(TarCodec.decode(ok.dropRight(1200)).isEmpty, "lost trailer must be refused")
    val symlink = ok.clone(); symlink(156) = '2'
    assert(TarCodec.decode(symlink).isEmpty, "non-file typeflag must be refused")
    assert(TarCodec.decode("random junk".getBytes("US-ASCII")).isEmpty)
  }

  test("tar shard sink writes real archives the distributed source round-trips") {
    import spark.implicits._
    val docs = (1 to 5).map(i => (f"doc_$i%03d", s"payload $i".getBytes("US-ASCII")))
      .toDF("key", "payload").repartition(2)
    val dir = Files.createTempDirectory("graft_tar").toString
    Sinks.writeTarShards(docs, dir, recordsPerShard = 2)
    assert(Files.exists(Paths.get(dir, "_SUCCESS")))
    // a corrupt shard must be skipped, not kill the scan
    Files.write(Paths.get(dir, "shard_bad.tar"), "junk".getBytes("US-ASCII"))
    val back = GeoIngest.tarShards.read(spark, dir).collect()
      .map(r => r.getString(1) -> new String(r.getAs[Array[Byte]](3), "US-ASCII"))
      .toMap
    assert(back.keySet == (1 to 5).map(i => f"doc_$i%03d").toSet,
      s"lost records: ${back.keySet}")
    assert(back("doc_003") == "payload 3")
  }

  test("compressed tar deliveries: .tar.gz/.tgz/.tar.zst scan alongside plain .tar") {
    import spark.implicits._
    val docs = (1 to 4).map(i => (f"cd_$i%02d", s"body $i".getBytes("US-ASCII")))
      .toDF("key", "payload").coalesce(1)
    val plain = Files.createTempDirectory("graft_tarc").toString
    Sinks.writeTarShards(docs, plain, recordsPerShard = 10)
    val tarBytes = Files.readAllBytes(
      Files.list(Paths.get(plain)).filter(_.toString.endsWith(".tar"))
        .findFirst().get())
    val dir = Files.createTempDirectory("graft_tarmix").toString
    Files.write(Paths.get(dir, "a.tar.gz"),
      graft.sources.GzipCodec.encode("a.tar", tarBytes))
    Files.write(Paths.get(dir, "b.tgz"),
      graft.sources.GzipCodec.encode("b.tar", tarBytes))
    Files.write(Paths.get(dir, "c.tar.zst"), graft.sources.ZstdCodec.encode(tarBytes))
    Files.write(Paths.get(dir, "d.tar"), tarBytes)
    // corrupt compressed shard: skipped at the gzip layer, scan survives
    Files.write(Paths.get(dir, "bad.tar.gz"), "not gzip".getBytes("US-ASCII"))
    val back = GeoIngest.tarShards.read(spark, dir)
    assert(back.count() == 4L * 4) // 4 good shards x 4 records
    val shards = back.select("shard").distinct().collect().map(_.getString(0)).toSet
    assert(shards == Set("a.tar.gz", "b.tgz", "c.tar.zst", "d.tar"))
  }
}
