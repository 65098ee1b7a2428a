package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Pins the scale-checkpoint coverage contract: every declared query
  * is measured across the sf0.1→sf1 decade EXCEPT the golden-pinned
  * ones, whose input is a committed foreign fixture that does not
  * scale with SF (an exponent there would be noise, not signal). Any
  * new query must either join the measured set or this exemption list
  * with a reason in SCALE.md.
  */
class ScaleBenchSpec extends AnyFunSuite {
  private val GoldenPinned = Set(
    "q_hdf5_read",          // committed h5py-written golden files
    "q_jpeg_decode",        // committed Pillow-written baseline JPEGs
    "q_jpeg_progressive",   // committed progressive-SOF2 goldens
    "q_jpeg_lossless",      // committed lossless-SOF3 goldens
    "q_jpeg12",             // committed 12-bit SOF1 goldens
    "q_jpeg_arith",         // committed libjpeg-encoded arithmetic JPEGs
    "q_warc_extract",       // committed Python-warcio-shaped WARC goldens
    "q_wet_extract",        // committed WET extracted-text goldens
    "q_wat_extract",        // committed WAT metadata-envelope goldens
    "q_jsonl_zst",          // committed python-zstandard-written shards
    "q_tfrecord_read",      // committed hand-framed tf.train.Example shards
    "q_zip_scan",           // committed Python-zipfile archives
    "q_avro_read",          // committed hand-encoded Avro containers
    "q_safetensors_read",   // committed hand-assembled safetensors shards
    "q_arrow_read",         // committed pyarrow-written IPC files
    "q_jsonl_bz2",          // committed Python-bz2-written shards
    "q_gif_decode",         // committed hand-encoded GIF files
    "q_wiki_pages",         // committed hand-assembled MediaWiki dumps
    "q_wiki_clean",         // same fixture dumps, cleaning stage composed
    "q_bmp_decode",         // committed hand-assembled BMP files
    "q_gif_frames",         // committed animated-GIF disposal fixtures
    "q_mp4_samples",        // committed hand-assembled ISO-BMFF files
    "q_vtt_cues",           // committed hand-written WebVTT/SRT files
    "q_caption_align",      // joins the two fixture walks above
    "q_exif_meta",          // committed hand-assembled APP1/TIFF JPEGs
    "q_exif_gps",           // decimal-degree stage over the same fixtures
    "q_pdf_text",           // committed hand-assembled PDF documents
    "q_flac_meta",          // committed hand-assembled FLAC files
    "q_id3_tags",           // committed hand-assembled MP3/ID3v2 files
    "q_robots_rules",       // committed hand-written robots.txt files
    "q_robots_filter",      // decision join over the same fixtures
    "q_webp_meta",          // committed hand-assembled WebP containers
    "q_avif_meta",          // committed hand-assembled AVIF/HEIF files
    "q_opus_meta")          // committed hand-assembled Ogg/Opus files

  test("Selected is duplicate-free and every name is a declared query") {
    assert(ScaleBench.Selected.distinct.size === ScaleBench.Selected.size)
    val declared = graft.SparkEntry.queries.keySet
    val unknown = ScaleBench.Selected.filterNot(declared)
    assert(unknown.isEmpty, s"ScaleBench selects undeclared queries: $unknown")
  }

  test("each scale is the sf<x> in its directory's last path component") {
    assert(ScaleBench.scaleOf("/data/sf0.1") === 0.1)
    assert(ScaleBench.scaleOf("/data/sf0.001/") === 0.001)
    assert(ScaleBench.scaleOf("testdata_sf1") === 1.0)
    assert(ScaleBench.scaleOf("/sf0.1/big_sf10") === 10.0)
    for (bad <- Seq("/data/sf0.1/tables", "/data/scale", "/data/sf", "/data/sf0"))
      intercept[IllegalArgumentException](ScaleBench.scaleOf(bad))
  }

  test("the unmeasured complement is exactly the golden-pinned exemptions") {
    val declared = graft.SparkEntry.queries.keySet
    val unmeasured = declared -- ScaleBench.Selected.toSet
    assert(unmeasured === GoldenPinned,
      s"unmeasured minus exemptions: ${unmeasured -- GoldenPinned}; " +
        s"exempted but measured/undeclared: ${GoldenPinned -- unmeasured}")
  }
}
