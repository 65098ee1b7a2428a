package graft

import org.apache.spark.sql.functions._

/** WET/WAT graded-arm specs: the two remaining Common Crawl
  * deliverables (extracted text, metadata JSON envelopes) decode
  * through the shared WARC framing walk and grade against the
  * committed Python-written goldens (tools/warc_golden.py make_wet /
  * make_wat) — the same rows the DuckDB oracle reads at the Verify
  * gate. The corrupt archives' ABSENCE is part of the parity check
  * (per-file skip), and the batch/streaming arms share one decode. */
class WetWatSpec extends SparkSpec {

  test("q_wet_extract matches the committed golden rows exactly") {
    val got = SparkEntry.queries("q_wet_extract")(spark, "/root/testdata/sf0.001")
    val want = spark.read
      .parquet(graft.Fixtures.path("q_wet_extract/golden"))
      .select(got.columns.toSeq.map(col): _*)
    assert(got.count() == 7, "expected 7 conversion records")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "WET extraction diverged from the Python-computed golden")
    // the corrupt archive must be absent (whole-file refusal)
    assert(got.filter(col("file").startsWith("corrupt")).count() == 0)
    // the empty extraction survives as a row (not dropped)
    assert(got.filter(col("text_chars") === 0).count() == 1)
    // unicode char counting: the BMP text row counts CHARACTERS
    val uni = got.filter(col("target_uri") === "https://d.example/riz").head()
    assert(uni.getAs[Int]("text_chars") < 80,
      "char count looks like a byte count on the unicode row")
  }

  test("q_wat_extract matches the committed golden rows exactly") {
    val got = SparkEntry.queries("q_wat_extract")(spark, "/root/testdata/sf0.001")
    val want = spark.read
      .parquet(graft.Fixtures.path("q_wat_extract/golden"))
      .select(got.columns.toSeq.map(col): _*)
    assert(got.count() == 5, "expected 5 metadata records")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "WAT extraction diverged from the Python-computed golden")
    // empty link LIST is 0 — distinct from the non-HTML NULL
    assert(got.filter(col("n_links") === 0).count() == 1)
    assert(got.filter(col("n_links").isNull).count() == 2)
    // the request-record envelope has no HTTP-Response-Metadata
    assert(got.filter(col("src_type") === "request")
      .filter(col("http_status").isNull).count() == 1)
  }

  test("wet/wat framing rides the WARC walk: warcinfo is filtered, types kept") {
    val wet = graft.sources.GeoIngest.wet
      .read(spark, graft.Fixtures.path("q_wet_extract"))
    assert(wet.select("file").distinct().count() == 3) // corrupt skipped
    val wat = graft.sources.GeoIngest.wat
      .read(spark, graft.Fixtures.path("q_wat_extract"))
    assert(wat.select("file").distinct().count() == 2)
    // the JSON column parses: every row yields an Envelope.Format
    val fmts = wat.select(get_json_object(col("json"), "$.Envelope.Format")
      .as("f")).collect().map(_.getString(0))
    assert(fmts.length == 5 && fmts.forall(_ == "WARC"))
  }

  test("wetIngest/watIngest stream with batch parity and corrupt-skip") {
    import java.nio.file.{Files, Paths}
    val srcW = Files.createTempDirectory("graft_wet_src").toString
    val destW = Files.createTempDirectory("graft_wet_dest").toString
    val ckptW = Files.createTempDirectory("graft_wet_ckpt").toString
    val fxW = graft.Fixtures.path("q_wet_extract")
    for (f <- Seq("crawl-00.warc.wet.gz", "crawl-01.warc.wet.gz",
                  "crawl-02.warc.wet", "corrupt-03.warc.wet.gz"))
      Files.copy(Paths.get(fxW, f), Paths.get(srcW, f))
    graft.streaming.StreamingPipelines
      .ingest(spark, graft.sources.GeoIngest.wet, srcW, destW, ckptW).awaitTermination()
    val streamedW = spark.read.parquet(destW)
      .select("file", "rec_idx", "target_uri", "mime", "text")
    val batchW = graft.sources.GeoIngest.wet.read(spark, srcW)
      .select("file", "rec_idx", "target_uri", "mime", "text")
    assert(streamedW.count() == 7)
    assert(streamedW.exceptAll(batchW).isEmpty &&
      batchW.exceptAll(streamedW).isEmpty,
      "streaming WET ingest diverged from the batch decode")

    val srcA = Files.createTempDirectory("graft_wat_src").toString
    val destA = Files.createTempDirectory("graft_wat_dest").toString
    val ckptA = Files.createTempDirectory("graft_wat_ckpt").toString
    val fxA = graft.Fixtures.path("q_wat_extract")
    for (f <- Seq("crawl-00.warc.wat.gz", "crawl-01.warc.wat.gz",
                  "corrupt-02.warc.wat.gz"))
      Files.copy(Paths.get(fxA, f), Paths.get(srcA, f))
    graft.streaming.StreamingPipelines
      .ingest(spark, graft.sources.GeoIngest.wat, srcA, destA, ckptA).awaitTermination()
    val streamedA = spark.read.parquet(destA)
      .select("file", "rec_idx", "target_uri", "json")
    val batchA = graft.sources.GeoIngest.wat.read(spark, srcA)
      .select("file", "rec_idx", "target_uri", "json")
    assert(streamedA.count() == 5)
    assert(streamedA.exceptAll(batchA).isEmpty &&
      batchA.exceptAll(streamedA).isEmpty,
      "streaming WAT ingest diverged from the batch decode")
  }
}
