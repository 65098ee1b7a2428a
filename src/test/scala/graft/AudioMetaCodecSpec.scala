package graft

import graft.sources.AudioMetaCodec

/** Contract specs for the audio-metadata codec: FLAC STREAMINFO
  * bitfields and the little-endian Vorbis-comment block, ID3v2.3 vs
  * v2.4 frame grammar across three text encodings, the MPEG-1 L3
  * header math, the refusal contracts, and never-throw under fuzz.
  * Value grading runs through oracles q_flac_meta / q_id3_tags. */
class AudioMetaCodecSpec extends SparkSpec {

  private def fx(dir: String, name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.base, dir, name))

  test("FLAC: STREAMINFO bitfields, duration, comments with '=' in value") {
    val ms = AudioMetaCodec.decodeFlac(fx("q_flac_meta", "tone-00.flac")).get
    def num(k: String) = ms.find(m => m.kind == "streaminfo" && m.key == k)
      .get.num
    assert(num("sample_rate") == 44100 && num("channels") == 2 &&
      num("bits") == 16 && num("total_samples") == 441000 &&
      num("duration_ms") == 10000)
    assert(ms.find(_.kind == "vendor").get.sval == "graft golden 1.0")
    val cs = ms.filter(_.kind == "comment")
    assert(cs.map(_.key) == Vector("TITLE", "ARTIST", "LANGUAGE", "NOTES"))
    assert(cs.last.sval == "a=b=c nested equals",
      "split must be at the FIRST '=' only")
    // unknown total stays duration-less
    val m1 = AudioMetaCodec
      .decodeFlac(fx("q_flac_meta", "nocomment-01.flac")).get
    assert(m1.count(_.kind == "streaminfo") == 4)
    assert(!m1.exists(_.key == "duration_ms"))
    assert(m1.find(_.key == "bits").get.num == 24)
  }

  test("MP3: v2.3 plain sizes, v2.4 syncsafe, three encodings, stream shape") {
    val t0 = AudioMetaCodec.decodeMp3(fx("q_id3_tags", "song-00.mp3")).get
    val tags0 = t0.filter(_.kind == "tag")
    assert(tags0.map(m => (m.key, m.sval)) == Vector(
      ("TIT2", "Dakar Nights"), ("TPE1", "Orchestra Graft"),
      ("TALB", "Album Wolof")))
    assert(t0.find(_.key == "bitrate_kbps").get.num == 128)
    assert(t0.find(_.key == "frame_bytes").get.num ==
      144L * 128000 / 44100)
    val t1 = AudioMetaCodec.decodeMp3(fx("q_id3_tags", "song-01.mp3")).get
    assert(t1.find(_.key == "TIT2").get.sval == "Syncsafe étude")
    assert(t1.find(_.key == "TLAN").get.sval == "fra")
    assert(t1.find(_.key == "sample_rate").get.num == 48000)
    // tagless file still reports the stream shape
    val t2 = AudioMetaCodec.decodeMp3(fx("q_id3_tags", "bare-02.mp3")).get
    assert(t2.forall(_.kind == "stream") && t2.length == 5)
  }

  test("refusals: short STREAMINFO, ID3 size past EOF, hostile shapes") {
    assert(AudioMetaCodec.decodeFlac(fx("q_flac_meta", "bad-02.flac")).isEmpty)
    assert(AudioMetaCodec.decodeMp3(fx("q_id3_tags", "bad-03.mp3")).isEmpty)
    assert(AudioMetaCodec.decodeFlac(Array.emptyByteArray).isEmpty)
    assert(AudioMetaCodec.decodeMp3(Array.emptyByteArray).isEmpty)
    assert(AudioMetaCodec.decodeMp3("not audio at all".getBytes).isEmpty)
    // zero sample rate in STREAMINFO must refuse
    val g = fx("q_flac_meta", "nocomment-01.flac").clone()
    // rate occupies the top 20 bits of the packed field at offset 4+4+10
    g(18) = 0; g(19) = 0; g(20) = (g(20) & 0x0f).toByte
    assert(AudioMetaCodec.decodeFlac(g).isEmpty)
  }

  test("hostile bytes never throw: truncations and single-byte fuzz") {
    val f = fx("q_flac_meta", "tone-00.flac")
    val fz = new FuzzDigest
    (0 until f.length by 2).foreach(k => fz.add(AudioMetaCodec.decodeFlac(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x77).toByte
      fz.add(AudioMetaCodec.decodeFlac(m))
      j += 1
    }
    val s = fx("q_id3_tags", "song-00.mp3")
    (0 until s.length by 7).foreach(k => fz.add(AudioMetaCodec.decodeMp3(s.take(k))))
    j = 0
    while (j < s.length) {
      val m = s.clone(); m(j) = 0x2a
      fz.add(AudioMetaCodec.decodeMp3(m))
      j += 3
    }
    assert(fz.hex == "1151/881:13e4cf2736fc5ead", fz.hex)
  }

  test("Ogg/Opus: page CRC, spanning tags packet, duration, refusals") {
    val ms = AudioMetaCodec.decodeOgg(fx("q_opus_meta", "talk-00.opus")).get
    def num(k: String) = ms.find(m => m.kind == "stream" && m.key == k)
      .get.num
    assert(num("channels") == 2 && num("preskip") == 312 &&
      num("input_rate") == 48000 && num("pages") == 6)
    assert(num("duration_ms") == (96312L - 312) * 1000 / 48000)
    assert(ms.find(_.kind == "vendor").get.sval == "graft opus 1.0")
    val cs = ms.filter(_.kind == "comment").sortBy(_.idx)
    assert(cs.map(m => (m.key, m.sval)) == Vector(
      ("TITLE", "Interview, part 1"), ("LANGUAGE", "fr"),
      ("ENCODER", "graft=golden")), "tags packet spans two pages")
    val mono = AudioMetaCodec.decodeOgg(
      fx("q_opus_meta", "mono-01.opus")).get
    assert(mono.count(_.kind == "comment") == 0)
    assert(mono.find(m => m.key == "duration_ms").get.num == 500)
    // refusals
    assert(AudioMetaCodec.decodeOgg(
      fx("q_opus_meta", "badcrc-02.opus")).isEmpty, "CRC")
    assert(AudioMetaCodec.decodeOgg(
      fx("q_opus_meta", "multi-03.opus")).isEmpty, "multiplexed")
    assert(AudioMetaCodec.decodeOgg(Array.emptyByteArray).isEmpty)
    // fuzz: never throw
    val good = fx("q_opus_meta", "talk-00.opus")
    val fz = new FuzzDigest
    (0 until good.length by 3).foreach(k =>
      fz.add(AudioMetaCodec.decodeOgg(good.take(k))))
    var j = 0
    while (j < good.length) {
      val m = good.clone(); m(j) = (m(j) ^ 0x19).toByte
      fz.add(AudioMetaCodec.decodeOgg(m))
      j += 1
    }
    assert(fz.hex == "970/0:4efcea6cfecb728d", fz.hex)
  }

  test("distributed ingest: both dirs, refused files absent") {
    val fl = graft.sources.GeoIngest.audioMeta.read(
      spark, graft.Fixtures.path("q_flac_meta"))
    assert(fl.groupBy("file").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap ==
      Map("tone-00.flac" -> 10L, "nocomment-01.flac" -> 4L))
    val mp = graft.sources.GeoIngest.audioMeta.read(
      spark, graft.Fixtures.path("q_id3_tags"))
    assert(mp.groupBy("file").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap ==
      Map("song-00.mp3" -> 8L, "song-01.mp3" -> 7L, "bare-02.mp3" -> 5L))
  }
}
