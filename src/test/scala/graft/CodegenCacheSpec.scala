package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A warm query compiles nothing: the second back-to-back run of the
  * same queries finds every generated class in Spark's codegen cache.
  *
  * The list is perfbench's media_export workload, whose 24 queries
  * generate 114 classes over sf0.001 and the fixtures in a fresh JVM,
  * more than Spark's default cache of 100 entries; at that default the
  * second run recompiled 65 of them. The cache size is fixed when the
  * JVM first generates code, so this also fails when anything in the
  * suite's JVM generates code before [[SparkSpec.session]] (built by
  * [[Sessions.local]]) exists. */
class CodegenCacheSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val queries = Seq(
    "q_jpeg_decode", "q_jpeg_progressive", "q_png_decode", "q_tiff_lzw", "q_tiff_deflate",
    "q_tiff_georef", "q_hdf5_read", "q_tfrecord_read", "q_jsonl_zst", "q_warc_extract",
    "q_pdf_text", "q_wav_features", "q_image_decode", "q_media_features", "q_resize_features",
    "q_tar_shards", "q_webdataset_jpeg", "q_netcdf_roundtrip", "q_npy_roundtrip",
    "q_arrow_roundtrip", "q_safetensors_roundtrip", "q_jsonl_gz", "q_encoder_embed",
    "q_mae_reconstruct")

  test("a second run of the same queries compiles no generated class") {
    val fns = queries.map(SparkEntry.queries)
    // the session first: the first counter read fixes the cache size
    val entries = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    def run(): Bench.Codegen = {
      val before = Bench.codegen()
      fns.foreach(Bench.timeQuery(spark, _, dir))
      Bench.codegen() - before
    }
    val first = run()
    val second = run()
    info(s"compiles: first run ${first.compiles}, second run ${second.compiles}")
    assert(second.compiles == 0,
      s"the second run recompiled ${second.compiles} generated classes (session cache setting " +
        s"$entries, Sessions.local sets ${Sessions.CodegenCacheEntries}): either something generated " +
        "code before Sessions.local built this JVM's first session, or a query's generated " +
        "source differs from run to run")
  }

  test("Sessions.local is the only place in src/main that sizes the cache") {
    val key = "spark.sql.codegen.cache.maxEntries"
    val files = Files.walk(Paths.get("src/main/scala"))
    val setters = try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val n = key.r.findAllIn(new String(Files.readAllBytes(f), "UTF-8")).size
        if (n > 0) Some(s"${f.getFileName}:$n") else None
      }.toList
    finally files.close()
    assert(setters == List("Sessions.scala:1"), s"$key appears in: ${setters.mkString(", ")}")
  }
}
