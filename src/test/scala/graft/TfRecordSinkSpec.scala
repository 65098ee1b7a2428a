package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{GeoIngest, Sinks}

/** TFRecord sink: schema-driven Example encoding, round-trip through
  * the reader, and byte-identity against the independent Python
  * writer (tools/tfrecord_golden.py helpers — the cross-writer pin
  * that proves both ends implement the same public wire format). */
class TfRecordSinkSpec extends SparkSpec {

  test("round-trip: typed columns come back as the right kinds and values") {
    import spark.implicits._
    val df = Seq(
      ("doc a", Seq(1L, -3L, 1L << 40), Seq(0.5f, Float.NaN), Array[Byte](1, 2), 7L, Option(2.5)),
      ("doc b", Seq(9L), Seq(-1.25f), Array[Byte](3), 8L, None)
    ).toDF("text", "tokens", "emb", "blob", "n", "score")
      .repartition(1).sortWithinPartitions("n")
    val dir = Files.createTempDirectory("graft_tfr").toString
    Sinks.writeTfRecordShards(df, dir, 10)

    val back = GeoIngest.tfrecord.read(spark, dir)
      .orderBy("rec_idx", "key", "elem_idx")
    val rows = back.collect()
    def of(rec: Int, key: String) =
      rows.filter(r => r.getInt(1) == rec && r.getString(2) == key)

    assert(of(0, "tokens").map(_.getLong(5)).toSeq == Seq(1L, -3L, 1L << 40))
    assert(of(0, "emb").map(_.getInt(6)).toSeq ==
      Seq(java.lang.Float.floatToRawIntBits(0.5f),
        java.lang.Float.floatToRawIntBits(Float.NaN)))
    assert(of(0, "text").head.getAs[String]("kind") == "bytes")
    assert(of(0, "blob").length == 1)
    // double column downcast to float32
    assert(of(0, "score").map(_.getInt(6)).toSeq ==
      Seq(java.lang.Float.floatToRawIntBits(2.5f)))
    // NULL column -> absent feature, the TF convention
    assert(of(1, "score").isEmpty)
    assert(of(1, "tokens").map(_.getLong(5)).toSeq == Seq(9L))
  }

  test("byte-identity with the independent Python writer") {
    import spark.implicits._
    val df = Seq(("hello", Seq(1L, -3L), Seq(0.5f, -1.25f)))
      .toDF("text", "ids", "vec").coalesce(1)
    val dir = Files.createTempDirectory("graft_tfr_pin").toString
    Sinks.writeTfRecordShards(df, dir, 10)
    val shard = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tfrecord")).head
    val bytes = Files.readAllBytes(shard.toPath)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString
    // computed by tools/tfrecord_golden.py helpers for the same row
    assert(bytes.length == 82)
    assert(md5 == "3abf9b84bffb55394256f2c3db1de1e9")
  }

  test("encode/decode are inverses on the codec level") {
    val f = graft.sources.TfRecordCodec.Feature(
      "int64", Vector(5L, -1L), Vector.empty, Vector.empty)
    val ex = graft.sources.TfRecordCodec.encodeExample(Seq("k" -> f))
    val back = graft.sources.TfRecordCodec.parseExample(ex).get
    assert(back == Vector("k" -> f))
    val framed = graft.sources.TfRecordCodec.frame(ex)
    assert(graft.sources.TfRecordCodec.parse(framed).get.head.sameElements(ex))
  }
}
