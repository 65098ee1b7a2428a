package graft.tools

import graft.{Bench, Sessions, SparkEntry}

/** Scale checkpoint: measure each selected query at a small scale
  * factor AND a big one (by default sf0.1 and the derived sf1, 10×
  * rows, [[ScaleGen]]) back-to-back in ONE JVM, and report the
  * per-query scaling ratio/exponent. Each directory's scale comes from
  * the `sf<x>` in its last path component. Interleaving the two
  * scales per query keeps a hypervisor steal window from biasing one
  * scale's numbers; each (query, scale) takes the MIN of two runs
  * (first run per scale also absorbs codegen). Writes
  * `BENCH_sf1_r14.json` and prints one summary JSON line.
  *
  * Coverage: every declared query EXCEPT the [[GoldenPinned]] ones
  * (committed foreign fixtures whose size does not scale with SF) —
  * the complement is pinned by ScaleBenchSpec. Each run is timed by
  * [[graft.Bench.timeQuery]] (build plus noop sink).
  *
  * Exponent semantics: e = log(t_big/t_small) / log(sf_big/sf_small)
  * — 1.0 is perfectly linear in rows, < 1 means fixed per-query
  * overhead still dominates at the big scale, > 1 superlinear.
  * Queries whose work is bounded by a knob rather than the corpus
  * (fixed query sets, k-row artifacts) legitimately sit far below 1.
  */
object ScaleBench {
  /** Queries whose input is a committed foreign fixture that does not
    * scale with SF, so a decade exponent would measure the fixture,
    * not the operator. Each has a row in SCALE.md's "Golden-pinned
    * exemptions" table; a new query is measured unless it joins both. */
  private[graft] val GoldenPinned: Set[String] = Set(
    "q_hdf5_read", "q_jpeg_decode", "q_jpeg_progressive",
    "q_jpeg_lossless", "q_jpeg12", "q_jpeg_arith", "q_warc_extract",
    "q_wet_extract", "q_wat_extract", "q_jsonl_zst", "q_tfrecord_read",
    "q_zip_scan", "q_avro_read", "q_safetensors_read", "q_arrow_read",
    "q_jsonl_bz2", "q_gif_decode", "q_wiki_pages", "q_wiki_clean",
    "q_bmp_decode", "q_gif_frames", "q_mp4_samples", "q_vtt_cues",
    "q_caption_align", "q_exif_meta", "q_exif_gps", "q_pdf_text",
    "q_flac_meta", "q_id3_tags", "q_robots_rules", "q_robots_filter",
    "q_webp_meta", "q_avif_meta", "q_opus_meta")

  /** Every declared query except the golden-pinned ones, sorted. */
  private[graft] val Selected: Seq[String] =
    (SparkEntry.queries.keySet -- GoldenPinned).toSeq.sorted

  /** The scale factor named by the `sf<x>` in `dir`'s last path
    * component (`sf0.1` → 0.1, `testdata_sf1` → 1.0); a directory
    * whose name carries none is refused. */
  private[graft] def scaleOf(dir: String): Double = {
    val name = java.nio.file.Paths.get(dir).getFileName.toString
    """sf(\d+(?:\.\d+)?)""".r.findFirstMatchIn(name)
      .map(_.group(1).toDouble).filter(_ > 0)
      .getOrElse(throw new IllegalArgumentException(
        s"no positive sf<x> scale in the last path component of $dir"))
  }

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val big = if (args.length > 1) args(1) else new java.io.File("testdata_sf1").getAbsolutePath
    val out = if (args.length > 2) args(2) else "BENCH_sf1_r14.json"
    // optional 4th arg: comma-separated subset (splice-capture for
    // queries added after a full run — note the splice in the capture's
    // provenance when merging)
    val subset: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    val (sfSmall, sfBig) = (scaleOf(small), scaleOf(big))
    require(sfBig != sfSmall, s"both directories are sf$sfSmall")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))

    def once(name: String, dir: String): Double =
      Bench.timeQuery(spark, SparkEntry.queries(name), dir)
    // warmup both scales (parquet footers, codegen, session init)
    once("q1_agg", small); once("q1_agg", big)

    val rows = Selected.filter(n => subset.forall(_.contains(n))).map { name =>
      val s1 = once(name, small); val b1 = once(name, big)
      val s2 = once(name, small); val b2 = once(name, big)
      val s = math.min(s1, s2); val b = math.min(b1, b2)
      val ratio = b / s
      val expn = math.log(ratio) / math.log(sfBig / sfSmall)
      println(f"$name%-24s sf$sfSmall=$s%7.2fs sf$sfBig=$b%7.2fs ratio=$ratio%6.2f exp=$expn%5.2f")
      (name, s, b, ratio, expn)
    }
    val totalS = rows.map(_._2).sum
    val totalB = rows.map(_._3).sum
    val json = new StringBuilder
    json ++= s"""{"metric":"scale_checkpoint","sf_small":$sfSmall,"sf_big":$sfBig,"""
    json ++= s""""n_queries":${rows.size},"total_small":${f"$totalS%.2f"},"total_big":${f"$totalB%.2f"},"""
    json ++= s""""total_ratio":${f"${totalB / totalS}%.3f"},"queries":{"""
    json ++= rows.map { case (n, s, b, r, e) =>
      s""""$n":{"small":${f"$s%.3f"},"big":${f"$b%.3f"},"ratio":${f"$r%.3f"},"exp":${f"$e%.3f"}}"""
    }.mkString(",")
    json ++= "}}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json.toString)
    println(json.takeRight(200))
    println(f"TOTALS sf$sfSmall=$totalS%.1fs sf$sfBig=$totalB%.1fs ratio=${totalB / totalS}%.2f")
    spark.stop()
  }
}
