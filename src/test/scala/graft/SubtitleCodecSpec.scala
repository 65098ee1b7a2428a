package graft

import graft.sources.SubtitleCodec

/** Contract specs for the WebVTT/SRT codec: block segmentation,
  * NOTE/STYLE skipping, identifier lines, cue settings, short-form
  * and hour-boundary timestamps, CRLF SRT, the refusal contract, and
  * never-throw under fuzz; plus the caption-to-frame alignment join
  * (value grading runs through oracle q_vtt_cues / q_caption_align). */
class SubtitleCodecSpec extends SparkSpec {

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.base, "q_vtt_cues", name))

  test("VTT: notes and styles skipped, ids and settings handled, stamps exact") {
    val cs = SubtitleCodec.decodeVtt(fixture("talk-00.vtt")).get
    assert(cs.length == 4)
    assert(cs(0) == SubtitleCodec.Cue(0, 0L, 2500L,
      "Welcome back, everyone."))
    // multi-line payload joined with \n; settings after the end stamp
    assert(cs(1).text ==
      "Today we cover container formats\nand why they matter.")
    assert(cs(1).startMs == 2500L && cs(1).endMs == 5000L)
    // short-form MM:SS.mmm
    assert(cs(2).startMs == 61000L && cs(2).endMs == 63750L)
    // hour boundary
    assert(cs(3).startMs == 3599000L && cs(3).endMs == 3601500L)
  }

  test("SRT: counters, comma decimals, CRLF") {
    val cs = SubtitleCodec.decodeSrt(fixture("talk-01.srt")).get
    assert(cs.length == 3)
    assert(cs(0) == SubtitleCodec.Cue(0, 100L, 1900L, "Premier sous-titre."))
    assert(cs(1).text == "Deux lignes de texte\nsur un seul cue.")
    assert(cs(2).endMs == 7000L)
  }

  test("header metadata attached under WEBVTT without a blank line is skipped") {
    // YouTube-style ASR output (round-15 advice): the whole header
    // BLOCK skips, not just line 0
    val cs = SubtitleCodec.decodeVtt(fixture("asr-04.vtt")).get
    assert(cs.map(c => (c.startMs, c.endMs)) ==
      Vector((0L, 1500L), (1500L, 3200L)))
    assert(cs(0).text == "so today we're going to")
    // inline form, with an X-TIMESTAMP-MAP-style line too
    val inlineHdr = "WEBVTT\nKind: captions\nLanguage: en\n\n" +
      "00:01.000 --> 00:02.000\nhello\n"
    assert(SubtitleCodec.decodeVtt(inlineHdr.getBytes("UTF-8")).get
      .head.text == "hello")
    // spec-malformed glue (cue straight after WEBVTT, no blank line):
    // the cue part still parses — pre-fix behavior preserved
    val glue = "WEBVTT\n00:01.000 --> 00:02.000\nglued\n"
    assert(SubtitleCodec.decodeVtt(glue.getBytes("UTF-8")).get
      .head.text == "glued")
  }

  test("refusals and the empty-but-valid case") {
    assert(SubtitleCodec.decodeVtt(fixture("empty-02.vtt")).get.isEmpty)
    assert(SubtitleCodec.decodeVtt(fixture("bad-03.vtt")).isEmpty, "no header")
    assert(SubtitleCodec.decodeVtt(Array.emptyByteArray).isEmpty)
    assert(SubtitleCodec.decodeSrt(Array.emptyByteArray).isEmpty)
    // end <= start must refuse
    val rev = "WEBVTT\n\n00:05.000 --> 00:04.000\nbackwards\n"
    assert(SubtitleCodec.decodeVtt(rev.getBytes("UTF-8")).isEmpty)
    // a malformed timing line poisons the file, not just the cue
    val mal = "WEBVTT\n\n00:01.000 --> later\noops\n"
    assert(SubtitleCodec.decodeVtt(mal.getBytes("UTF-8")).isEmpty)
  }

  test("hostile bytes never throw: truncations and single-byte fuzz") {
    val good = fixture("talk-00.vtt")
    (0 until good.length by 2).foreach { k =>
      SubtitleCodec.decodeVtt(good.take(k))
      SubtitleCodec.decodeSrt(good.take(k))
    }
    var j = 0
    while (j < good.length) {
      val m = good.clone(); m(j) = (m(j) ^ 0x3a).toByte
      SubtitleCodec.decodeVtt(m)
      j += 1
    }
  }

  test("caption-to-frame alignment joins real container walks") {
    val df = graft.queries.MultimodalQueries.qCaptionAlign(spark)
    val all = df.collect().map(r => (r.getAs[String]("vid"),
      r.getAs[Int]("smp"), r.getAs[Long]("pts_ms"), r.getAs[Int]("cue")))
    val c6 = all.filter(_._1 == "cap-06").sortBy(_._2)
    // cap-06: 12 samples at 250 ms; cues [0,600) [600,1250) [1600,2400)
    // [2400,3400): samples 5 (1250 ms) and 6 (1500 ms) fall in the gap
    assert(c6.map(_._2).toSeq == Seq(0, 1, 2, 3, 4, 7, 8, 9, 10, 11))
    assert(c6.collect { case (_, _, pts, cue) if pts < 600 => cue }
      .forall(_ == 0))
    assert(c6.filter(_._3 >= 2400).forall(_._4 == 3))
    // cap-07: 8 samples at 250 ms; cues [0,500) [500,1200) [1300,2000):
    // sample 5 (1250 ms) falls in the gap — and its cues must NEVER
    // attach to cap-06 samples despite the overlapping time windows
    // (the stem key is load-bearing)
    val c7 = all.filter(_._1 == "cap-07").sortBy(_._2)
    assert(c7.map(_._2).toSeq == Seq(0, 1, 2, 3, 4, 6, 7))
    // cap-08: 12 samples at 250 ms SHIFTED -500 ms by its edit list;
    // cues [0,700) [700,1500) [1800,2300). Samples 0-1 present before
    // the edit start (negative pts: clipped), samples 8 (1500) and 9
    // (1750) fall in the cue gap, 12th would be 2250 < 2300 (matches)
    val c8 = all.filter(_._1 == "cap-08").sortBy(_._2)
    assert(c8.map(s => (s._2, s._3)).toSeq ==
      Seq(2 -> 0L, 3 -> 250L, 4 -> 500L, 5 -> 750L, 6 -> 1000L,
        7 -> 1250L, 10 -> 2000L, 11 -> 2250L))
    assert(c8.filter(_._3 >= 1800).forall(_._4 == 2))
    assert(all.map(_._1).toSet == Set("cap-06", "cap-07", "cap-08"))
  }
}
