package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.MultimodalOps
import graft.sources.{GeoIngest, NpyCodec, Sinks, WavCodec}
import graft.streaming.StreamingPipelines

/** Pins of the file layer around the codecs: every `Sinks` file
  * writer's file names and bytes on fixed inputs, and every
  * `GeoIngest` reader's rows over the committed fixtures or over the
  * pinned sink output. A changed constant is a behaviour change of the
  * scan, the per-file decode or the commit rule, never a re-pin. */
class FileScanSinkSpec extends SparkSpec {

  /** Deterministic partitioning: rows hash to one of two partitions by
    * `key` and keep a fixed order inside each, so shard writers name
    * and fill the same shards on every run. */
  private def parts(df: DataFrame, key: String): DataFrame =
    df.repartition(2, col(key)).sortWithinPartitions(key)

  private def files(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.toList.sortBy(_.getFileName.toString) finally s.close()
  }

  /** Sorted file names, then `Sha256.hex` of the files in name order. */
  private def pin(dir: String): String = {
    val fs = files(dir)
    fs.map(_.getFileName.toString).mkString(",") + " " +
      Sha256.hex(fs.map(p => Files.readAllBytes(p)))
  }

  /** Fails on every `name -> value` of `got` that `expected` does not
    * hold, listing each one that differs. */
  private def assertPinned(expected: Map[String, String], got: Seq[(String, String)]): Unit = {
    val bad = got.filterNot { case (n, v) => expected.get(n).contains(v) }
    assert(bad.isEmpty, bad.map { case (n, v) => s"""  "$n" -> "$v",""" }.mkString("\n", "\n", ""))
  }

  private def tmp(tag: String): String = Files.createTempDirectory(s"graft_$tag").toString

  /** Each writer on its fixed input, written once: name → directory. */
  private lazy val sunk: Map[String, String] = {
    val s = spark
    import s.implicits._
    val px = (n: Int, seed: Int) => Array.tabulate(n)(i => ((i * 37 + seed * 11) % 251).toByte)
    def emb(i: Int) = Array.tabulate(3)(k => i * 0.5f - k * 0.25f)
    val writers = Seq[(String, String => Unit)](
      "tiff" -> (d => Sinks.writeTiffTiles(parts(Seq(
        (1L, 4, 2, px(8, 1)), (2L, 3, 2, px(6, 2)), (3L, 2, 2, px(4, 3)), (-5L, 1, 1, px(1, 4)))
        .toDF("tile_id", "width", "height", "pixels"), "tile_id"), d)),
      "npy" -> (d => Sinks.writeNpyTiles(parts(Seq(
        (1L, 2, 2, Array(1.0f, 2.0f, 3.0f, 4.0f)), (2L, 3, 0, Array(-1.0f, 0.5f, 9.0f)),
        (3L, 1, 2, Array(Float.MinPositiveValue, -0.0f)))
        .toDF("tile_id", "rows", "cols", "values"), "tile_id"), d)),
      "tar" -> (d => Sinks.writeTarShards(parts((1 to 7)
        .map(i => (f"doc_$i%03d", s"payload $i".getBytes("US-ASCII")))
        .toDF("key", "payload"), "key"), d, 2)),
      "tfrecord" -> (d => Sinks.writeTfRecordShards(parts((1 to 7)
        .map(i => (s"k$i", i.toLong, if (i % 3 == 0) None else Some(i * 0.1),
          Seq(i.toFloat, -i.toFloat), s"b$i".getBytes("US-ASCII"), i % 2 == 0))
        .toDF("key", "n", "x", "f", "b", "flag"), "key"), d, 2)),
      "safetensors" -> (d => Sinks.writeSafetensorsShards(parts((0 until 7)
        .map(i => (i.toLong, emb(i))).toDF("id", "embedding"), "id"), d, 2)),
      "arrow" -> (d => Sinks.writeArrowShards(parts((0 until 7)
        .map(i => (i.toLong, emb(i))).toDF("id", "embedding"), "id"), d, 2)),
      "arrow_text" -> (d => Sinks.writeArrowTextShards(parts((0 until 7)
        .map(i => (100L + i, if (i == 4) None else Some(s"doc $i — ${"x" * i}")))
        .toDF("id", "text"), "id"), d, 2)),
      "jsonl_gz" -> (d => Sinks.writeJsonlGz(parts((1 to 7)
        .map(i => (s"k$i", s"""{"id":$i,"t":"row $i"}""")).toDF("key", "json"), "key"), d, 3)),
      "jsonl_zst" -> (d => Sinks.writeJsonlZst(parts((1 to 7)
        .map(i => (s"k$i", s"""{"id":$i,"t":"row $i"}""")).toDF("key", "json"), "key"), d, 3)),
      "wav" -> (d => Sinks.writeWavClips(parts(Seq(
        (1L, 16000, 1, Seq(0, 1000, -1000, 32767, -32768)), (2L, 8000, 2, Seq(5, -5, 7, -7)))
        .toDF("clip_id", "rate", "channels", "samples"), "clip_id"), d)),
      "jpeg" -> (d => Sinks.writeJpegTiles(parts(Seq(
        (5L, 16, 8, 1, px(128, 5)), (6L, 9, 7, 3, px(9 * 7 * 3, 6)))
        .toDF("tile_id", "width", "height", "channels", "pixels"), "tile_id"), d)),
      "png" -> (d => Sinks.writePngTiles(parts(Seq(
        (7L, 3, 2, 3, px(18, 7)), (8L, 2, 2, 1, px(4, 8)), (9L, 2, 1, 4, px(8, 9)))
        .toDF("tile_id", "width", "height", "channels", "pixels"), "tile_id"), d)),
      "netcdf" -> (d => Sinks.writeNetcdfFiles(parts(Seq(
        ("togo-001", Seq(14.5, 14.625), Seq(-16.5, -16.375), Seq(0.25, 0.75)),
        ("togo-002", Seq(15.0, 15.125, 15.25), Seq(-16.0, -15.875, -15.75), Seq(0.5, 0.125, 0.9375)),
        ("t3", Seq(1.0), Seq(2.0), Seq(3.0)))
        .toDF("group_id", "lat", "lon", "preds"), "group_id"), d)))
    writers.map { case (n, w) => val d = tmp(n); w(d); n -> d }.toMap
  }

  test("every Sinks file writer writes the pinned file names and bytes") {
    val expected = Map[String, String](
      "arrow" -> "_SUCCESS,shard_0_0.arrow,shard_0_1.arrow,shard_1_0.arrow,shard_1_1.arrow 5df5b139cf79522c5ad565a1958d8e20eaef7aa8edd62027abd3531ec2f3c403",
      "arrow_text" -> "_SUCCESS,shard_0_0.arrow,shard_1_0.arrow,shard_1_1.arrow,shard_1_2.arrow b59c5cd8f00f8596f1938a30771799ad8286f7a25119b763857addba229607ac",
      "jpeg" -> "_SUCCESS,tile_5.jpg,tile_6.jpg 833749ea8b652e16bb7acdb21d642fad04fc0d750855d9255198ac1e495bd251",
      "jsonl_gz" -> "_SUCCESS,shard_0_0.jsonl.gz,shard_1_0.jsonl.gz,shard_1_1.jsonl.gz 9fdab39809557053c01847e3a9d6b85bb6887d1fc2d0a9a5e0edfafaa2e53db4",
      "jsonl_zst" -> "_SUCCESS,shard_0_0.jsonl.zst,shard_1_0.jsonl.zst,shard_1_1.jsonl.zst 4c6332a1e6d86e3b4f390a406a88b6a9fdfa4150e1a1f588945f82a286029c60",
      "netcdf" -> "_SUCCESS,t3.nc,togo-001.nc,togo-002.nc f293d5047676195c2c0e97f6030f01780cbc162cdc05f5307e8b664f349c35d5",
      "npy" -> "_SUCCESS,tile_1.npy,tile_2.npy,tile_3.npy 6d168647bb5d1de56b2725c91ed04e4a205be8fc3b7f8ea0cf9454a3d2438d62",
      "png" -> "_SUCCESS,tile_7.png,tile_8.png,tile_9.png 4256469906c51f5a4a86d3799fdc3bbddaf1f21210a13902d2b2fffd47984a26",
      "safetensors" -> "_SUCCESS,shard_0_0.safetensors,shard_0_1.safetensors,shard_1_0.safetensors,shard_1_1.safetensors 7fbf7423964c82407ae3a57be713f8959608bf3be1e27dda48210d6b6acd72c2",
      "tar" -> "_SUCCESS,shard_0_0.tar,shard_0_1.tar,shard_0_2.tar,shard_1_0.tar 73dedcaff95a50f8f25cf903707d31638cc29b83f32914c20ccf38752b07f366",
      "tfrecord" -> "_SUCCESS,shard_0_0.tfrecord,shard_0_1.tfrecord,shard_1_0.tfrecord,shard_1_1.tfrecord 21c139aa19e1551b76873069a168e2240c2535f71c02c60a98d366ec39acc252",
      "tiff" -> "_SUCCESS,tile_-5.tif,tile_1.tif,tile_2.tif,tile_3.tif 4887a68e768225bbd2bb19493f1ebf770561bb1b3dd6a964873c0c29fb372cfe",
      "wav" -> "_SUCCESS,clip_1.wav,clip_2.wav 9805beb6e4ab1c16e35c8ce524e90b1b667d260abf6708ecafa8fe9daea0f223")
    assertPinned(expected, sunk.toSeq.sortBy(_._1).map { case (n, d) => n -> pin(d) })
  }

  /** A copy of one sink's output plus the given extra files. */
  private def withExtra(sink: String, extra: (String, Array[Byte])*): String = {
    val d = tmp(s"${sink}_read")
    files(sunk(sink)).foreach(p => Files.copy(p, Paths.get(d, p.getFileName.toString)))
    extra.foreach { case (n, b) => Files.write(Paths.get(d, n), b) }
    d
  }

  private val junk = "not a container".getBytes("US-ASCII")

  test("the readers without a declared query give their pinned rows; corrupt files skip") {
    val tarBytes = Files.readAllBytes(files(sunk("tar")).find(_.toString.endsWith(".tar")).get)
    val geo = tmp("geopix")
    val vals = Array.tabulate(6)(i => i.toDouble - 2)
    Files.write(Paths.get(geo, "tile_1.tif"), MultimodalOps.encodeTiffRaster(3, 2, 1, "i16",
      vals, lzw = false, predictor = false,
      georef = Some(MultimodalOps.TiffGeoref(0.25, 0.125, 0.0, 0.0, 10.0, 20.0, 4326, true))))
    Files.write(Paths.get(geo, "tile_2.tif"), MultimodalOps.encodeTiffRaster(2, 2, 2, "f32",
      Array(1.5, -2.5, 3.25, 0.0, 7.0, 8.0, -9.0, 10.0), lzw = true, predictor = false,
      georef = Some(MultimodalOps.TiffGeoref(0.5, 0.5, 0.0, 0.0, -17.25, 14.75, 4326, false))))
    Files.write(Paths.get(geo, "tile_3.tif"), MultimodalOps.encodeTiffRaster(3, 2, 1, "i16",
      vals, lzw = false, predictor = false)) // no georef → skipped
    Files.write(Paths.get(geo, "bad.tif"), junk)
    val readers = Seq[(String, DataFrame)](
      "tiffTiles" -> GeoIngest.tiffTiles.read(spark, withExtra("tiff", "tile_99.tif" -> junk)),
      "tiffGeoPixels" -> GeoIngest.tiffGeoPixels.read(spark, geo),
      "netcdf" -> GeoIngest.netcdf.read(spark, withExtra("netcdf", "broken.nc" -> junk)),
      "npy" -> GeoIngest.npy.read(spark, withExtra("npy", "tile_99.npy" -> junk)),
      "wav" -> GeoIngest.wav.read(spark, withExtra("wav", "clip_99.wav" -> junk)),
      "jsonlGz" -> GeoIngest.jsonlGz.read(spark, withExtra("jsonl_gz", "bad.jsonl.gz" -> junk)),
      "tarShards" -> GeoIngest.tarShards.read(spark, withExtra("tar",
        "a.tar.gz" -> graft.sources.GzipCodec.encode("a.tar", tarBytes),
        "b.tgz" -> graft.sources.GzipCodec.encode("b.tar", tarBytes),
        "c.tar.zst" -> graft.sources.ZstdCodec.encode(tarBytes),
        "bad.tar" -> junk, "bad.tar.gz" -> junk)))
    val expected = Map[String, String](
      "tiffTiles" -> "4:17ae751e84046022b6431789230b4608",
      "tiffGeoPixels" -> "14:ea88c56ff4c2332239947679f31e2a16",
      "netcdf" -> "6:e9c5ca2d22258e7b44065f35a522148d",
      "npy" -> "3:00025e14fa492f3124b331b1b5b8fbc5",
      "wav" -> "2:1f89dbc571887d65dadc75db835b0b3f",
      "jsonlGz" -> "7:7cca0e28a62bbc010dc1480709431f5f",
      "tarShards" -> "13:d7aabd6002c3673d0dff809df2d6ce4b")
    assertPinned(expected, readers.map { case (n, df) => n -> RowDigest.of(df) })
  }

  /** Every format with a committed fixture directory: (format name,
    * format, fixture). */
  private val fixtureFormats = Seq[(String, GeoIngest.Format, String)](
    ("h5", GeoIngest.h5, "q_hdf5_read"),
    ("jsonlZst", GeoIngest.jsonlZst, "q_jsonl_zst"),
    ("jsonlBz2", GeoIngest.jsonlBz2, "q_jsonl_bz2"),
    ("wiki", GeoIngest.wiki, "q_wiki_pages"),
    ("warc", GeoIngest.warc, "q_warc_extract"),
    ("wet", GeoIngest.wet, "q_wet_extract"),
    ("wat", GeoIngest.wat, "q_wat_extract"),
    ("bmp", GeoIngest.bmp, "q_bmp_decode"),
    ("gif", GeoIngest.gif, "q_gif_decode"),
    ("gifCanvases", GeoIngest.gifCanvases, "q_gif_frames"),
    ("arrow", GeoIngest.arrow, "q_arrow_read"),
    ("safetensors", GeoIngest.safetensors, "q_safetensors_read"),
    ("zip", GeoIngest.zip, "q_zip_scan"),
    ("avro", GeoIngest.avro, "q_avro_read"),
    ("mp4", GeoIngest.mp4, "q_mp4_samples"),
    ("webp", GeoIngest.webp, "q_webp_meta"),
    ("opus", GeoIngest.opus, "q_opus_meta"),
    ("avif", GeoIngest.avif, "q_avif_meta"),
    ("audioMeta", GeoIngest.audioMeta, "q_flac_meta"),
    ("audioMeta", GeoIngest.audioMeta, "q_id3_tags"),
    ("pdf", GeoIngest.pdf, "q_pdf_text"),
    ("exif", GeoIngest.exif, "q_exif_meta"),
    ("subtitles", GeoIngest.subtitles, "q_vtt_cues"),
    ("tfrecord", GeoIngest.tfrecord, "q_tfrecord_read"))

  test("every fixture-backed binaryFile reader gives its pinned rows") {
    val expected = Map[String, String](
      "h5 q_hdf5_read" -> "158:101d65e38d1a1f97db3ae7f2922b39b7",
      "jsonlZst q_jsonl_zst" -> "47:91fa56a4c74fb5a207c69e216ede45ee",
      "jsonlBz2 q_jsonl_bz2" -> "35:f93ed89423bdd7e26845b873a0652d89",
      "wiki q_wiki_pages" -> "8:e2d5a25d56df36beaf9a54644ea485e6",
      "warc q_warc_extract" -> "14:06b1b769a7554d6e72d2cdab5e0e6984",
      "wet q_wet_extract" -> "7:16c3493422ff6dfb9ea16cc272cede2d",
      "wat q_wat_extract" -> "5:1a009d485544716c012ca85156980edc",
      "bmp q_bmp_decode" -> "167:7a6628dddb88310aee0683d8b882e9f7",
      "gif q_gif_decode" -> "12686:22b313b14408fd6640c758ee40ce77f0",
      "gifCanvases q_gif_frames" -> "680:318cdb7b9b3536aabdeabb813a99592f",
      "arrow q_arrow_read" -> "657:2ec02abd262cd5352bdebee834fd9cdd",
      "safetensors q_safetensors_read" -> "61:e498a909b65fdb0dd5546a4ec692bcf2",
      "zip q_zip_scan" -> "11:1a491e15464bc97b326a5be48d53ca64",
      "avro q_avro_read" -> "120:a86ee93b39731023526516baf0045e4a",
      "mp4 q_mp4_samples" -> "85:a67ccc12c4040b51e2c64b568d77a526",
      "webp q_webp_meta" -> "39:ebd390bb484081b81ab02932245c153e",
      "opus q_opus_meta" -> "15:ac096f0411a4ca753b76d94716d4639c",
      "avif q_avif_meta" -> "23:7c7e964b7a66bf1ddb10d2672fd7fe03",
      "audioMeta q_flac_meta" -> "14:20a057d5b71bc7bea033d3a7faa4f514",
      "audioMeta q_id3_tags" -> "20:9a0c9aeeadbb71880325134cedcfcb78",
      "pdf q_pdf_text" -> "40:9b03b0f4bfcdab05bc4ba2864b7dd279",
      "exif q_exif_meta" -> "35:cd5ef615f9b0646264d17a9543d9755d",
      "subtitles q_vtt_cues" -> "19:9937a02939d93c76f1873f14ac7a3736",
      "tfrecord q_tfrecord_read" -> "48:db933d1630d781989e4ae398fc1bf6ab")
    assertPinned(expected, fixtureFormats.map { case (n, format, q) =>
      s"$n $q" -> RowDigest.of(format.read(spark, Fixtures.path(q)))
    })
  }

  test("streaming ingest lands the rows of the batch read for every fixture-backed format") {
    val differ = fixtureFormats.flatMap { case (n, format, q) =>
      val src = tmp(s"${n}_src")
      files(Fixtures.path(q)).filter(Files.isRegularFile(_))
        .foreach(p => Files.copy(p, Paths.get(src, p.getFileName.toString)))
      val dest = tmp(s"${n}_dest")
      StreamingPipelines.ingest(spark, format, src, dest, tmp(s"${n}_ckpt")).awaitTermination()
      val (read, streamed) = (RowDigest.of(format.read(spark, src)),
        RowDigest.of(spark.read.parquet(dest).drop("batch_id")))
      if (read == streamed) None else Some(s"  $n $q: read $read, ingest $streamed")
    }
    assert(differ.isEmpty, differ.mkString("\n", "\n", ""))
  }

  test("tile_ and clip_ file ids parse alike in the tiff, npy and wav readers") {
    // file k carries k in its container, so each row names its file
    val tails = Seq("7", "-3", "+7", "007", "99999999999999999999", "", "x")
    def ids(format: GeoIngest.Format, prefix: String, ext: String,
        body: Int => Array[Byte], tag: org.apache.spark.sql.Row => Int): Map[String, Long] = {
      val d = tmp("ids")
      val names = (tails.map(prefix + _) ++ Seq("other_5", "tile_7", "clip_7")).distinct
      names.zipWithIndex.foreach { case (n, k) => Files.write(Paths.get(d, s"$n.$ext"), body(k)) }
      format.read(spark, d).collect().map(r => names(tag(r)).stripPrefix(prefix) -> r.getLong(0)).toMap
    }
    val tiff = ids(GeoIngest.tiffTiles, "tile_", "tif",
      k => MultimodalOps.encodeTiff(k + 1, 1, new Array[Byte](k + 1)), _.getInt(1) - 1)
    val npy = ids(GeoIngest.npy, "tile_", "npy",
      k => NpyCodec.encodeF4(1, 0, Array(k.toFloat)), _.getSeq[Double](2).head.toInt)
    val wav = ids(GeoIngest.wav, "clip_", "wav",
      k => WavCodec.encode(8000 + k, 1, Array(1)), _.getInt(1) - 8000)
    // a Unicode-digit tail cannot be a file name under a POSIX-locale
    // JVM, so it goes through the readers' one parse directly
    val unicode = GeoIngest.fileId("tile_\u0667", "tile_")
    val pinned = Map("7" -> 7L, "-3" -> -3L, "+7" -> -1L, "007" -> -1L,
      "99999999999999999999" -> -1L, "" -> -1L, "x" -> -1L, "other_5" -> -1L)
    assert(tiff == pinned + ("clip_7" -> -1L), tiff)
    assert(npy == pinned + ("clip_7" -> -1L), npy)
    assert(wav == pinned + ("tile_7" -> -1L), wav)
    assert(unicode == -1L, unicode)
  }

  test("src/main has one batch binaryFile scan, one path/content decode and one _SUCCESS write") {
    val kept = Set("\"binaryFile\"", "\"path\"", "\"content\"", "\"_SUCCESS\"")
    // (shape, home file, text of the one allowed line, pattern)
    val shapes = Seq(
      // a streaming scan is `readStream.format(...)`: it stays apart
      ("batch binaryFile scan", "GeoIngest.scala", "",
        """\b(?!readStream\b)\w+\s*\.\s*format\s*\(\s*"binaryFile"\s*\)""".r),
      ("streaming binaryFile scan", "StreamingPipelines.scala", "",
        """\breadStream\s*\.\s*format\s*\(\s*"binaryFile"\s*\)""".r),
      // a member call like `prog.scan(` is another method
      ("scan( call", "GeoIngest.scala", "def read(",
        """(?<!def )(?<![\w.])scan\s*\(|\bGeoIngest\s*\.\s*scan\s*\(""".r),
      ("path/content decode half", "GeoIngest.scala", "",
        """select\s*\(\s*(?:col\s*\(\s*)?"path"\s*\)?\s*,\s*(?:col\s*\(\s*)?"content"""".r),
      ("_SUCCESS marker", "Sinks.scala", "", "\"_SUCCESS\"".r))
    val code = SourceScan.code(kept)
    val lines = code.toMap.map { case (n, text) => n -> text.split("\n", -1) }
    val found = shapes.flatMap { case (shape, home, within, re) =>
      val sites = SourceScan.sites(code, re)
      if (sites.size == 1 && sites.head._1 == home && lines(home)(sites.head._2 - 1).contains(within)) Nil
      else s"${sites.size} of $shape (one, in $home${if (within.isEmpty) "" else s" on the `$within` line"}, allowed):" +:
        sites.map { case (n, l) => s"  $n:$l" }
    }
    if (found.nonEmpty) fail(found.mkString("\n", "\n", ""))
  }
}
