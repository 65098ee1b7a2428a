package graft

import java.nio.file.{Files, Paths}
import graft.sources.{GeoIngest, Sinks, WavCodec}

/** RIFF/WAVE PCM codec: encoder golden-pinned byte-identical to
  * Python's stdlib `wave` module, decoder reads the real thing,
  * refusal contract for everything outside the 16-bit PCM envelope,
  * and the distributed sink→source round trip with corrupt-file
  * skip — mirroring NpyCodecSpec. */
class WavCodecSpec extends SparkSpec {

  /** Python wave output: 1 ch, 8000 Hz, samples
    * [100, -200, 32767, -32768, 0, 5000]. */
  private val goldenMono: Array[Byte] = Array[Int](
    82, 73, 70, 70, 48, 0, 0, 0, 87, 65, 86, 69, 102, 109, 116, 32, 16, 0,
    0, 0, 1, 0, 1, 0, 64, 31, 0, 0, -128, 62, 0, 0, 2, 0, 16, 0, 100, 97,
    116, 97, 12, 0, 0, 0, 100, 0, 56, -1, -1, 127, 0, -128, 0, 0, -120,
    19).map(_.toByte)

  /** Python wave output: 2 ch, 44100 Hz, frames
    * [(1000,-1000), (2000,-2000), (32767,-32768), (0,123)]. */
  private val goldenStereo: Array[Byte] = Array[Int](
    82, 73, 70, 70, 52, 0, 0, 0, 87, 65, 86, 69, 102, 109, 116, 32, 16, 0,
    0, 0, 1, 0, 2, 0, 68, -84, 0, 0, 16, -79, 2, 0, 4, 0, 16, 0, 100, 97,
    116, 97, 16, 0, 0, 0, -24, 3, 24, -4, -48, 7, 48, -8, -1, 127, 0,
    -128, 0, 0, 123, 0).map(_.toByte)

  private val monoSamples = Array(100, -200, 32767, -32768, 0, 5000)
  private val stereoSamples = Array(1000, -1000, 2000, -2000, 32767, -32768, 0, 123)

  test("encode is byte-identical to Python's wave module, mono and stereo") {
    val m = WavCodec.encode(8000, 1, monoSamples)
    assert(m.toSeq == goldenMono.toSeq,
      s"mono diverges at byte ${m.toSeq.zip(goldenMono.toSeq).indexWhere { case (a, b) => a != b }}")
    val s = WavCodec.encode(44100, 2, stereoSamples)
    assert(s.toSeq == goldenStereo.toSeq,
      s"stereo diverges at byte ${s.toSeq.zip(goldenStereo.toSeq).indexWhere { case (a, b) => a != b }}")
  }

  test("decode reads real Python-wave output") {
    val m = WavCodec.decode(goldenMono).get
    assert((m.sampleRate, m.channels) == ((8000, 1)))
    assert(m.samples.toSeq == monoSamples.toSeq)
    val s = WavCodec.decode(goldenStereo).get
    assert((s.sampleRate, s.channels) == ((44100, 2)))
    assert(s.samples.toSeq == stereoSamples.toSeq)
  }

  test("decode skips unknown chunks (LIST metadata before data)") {
    // splice a LIST chunk between fmt and data, per spec word-aligned
    val junk = "LIST".getBytes("US-ASCII") ++ Array[Byte](5, 0, 0, 0) ++
      "INFOx".getBytes("US-ASCII") ++ Array[Byte](0) // odd len + pad
    val spliced = goldenMono.take(36) ++ junk ++ goldenMono.drop(36)
    // RIFF length field must cover the insert
    val riffLen = (spliced.length - 8).toLong
    spliced(4) = (riffLen & 0xff).toByte
    spliced(5) = ((riffLen >> 8) & 0xff).toByte
    val w = WavCodec.decode(spliced).get
    assert(w.samples.toSeq == monoSamples.toSeq)
  }

  test("decode refuses what it cannot faithfully represent") {
    assert(WavCodec.decode("RIFFnope".getBytes("US-ASCII")).isEmpty, "tiny")
    val badMagic = goldenMono.clone(); badMagic(9) = 'X'.toByte
    assert(WavCodec.decode(badMagic).isEmpty, "not WAVE")
    val ieee = goldenMono.clone(); ieee(20) = 3 // format 3 = IEEE float
    assert(WavCodec.decode(ieee).isEmpty, "non-PCM format")
    val eight = goldenMono.clone(); eight(34) = 8
    assert(WavCodec.decode(eight).isEmpty, "8-bit width")
    assert(WavCodec.decode(goldenMono.dropRight(3)).isEmpty, "truncated data")
    val overrun = goldenMono.clone(); overrun(40) = 99 // data len > file
    assert(WavCodec.decode(overrun).isEmpty, "data chunk overruns file")
    val torn = goldenStereo.clone(); torn(40) = 14 // stereo with half frame
    assert(WavCodec.decode(torn).isEmpty, "torn stereo frame")
  }

  test("wav sink writes real containers the distributed source round-trips") {
    import spark.implicits._
    val clips = Seq(
      (1L, 8000, 1, Seq(5, -5, 300, -300)),
      (2L, 16000, 2, Seq(1, 2, 3, 4, -32768, 32767)))
      .toDF("clip_id", "rate", "channels", "samples")
      .repartition(2)
    val dir = Files.createTempDirectory("graft_wav").toString
    Sinks.writeWavClips(clips, dir)
    assert(Files.exists(Paths.get(dir, "_SUCCESS")))
    // corrupt file must be skipped, not kill the scan
    Files.write(Paths.get(dir, "clip_99.wav"), "RIFFgarbage!".getBytes("US-ASCII"))
    val back = GeoIngest.wav.read(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getSeq[Int](3)))).toMap
    assert(back.keySet == Set(1L, 2L), s"unexpected clips: ${back.keySet}")
    assert(back(1L) == ((8000, 1, Seq(5, -5, 300, -300))))
    assert(back(2L) == ((16000, 2, Seq(1, 2, 3, 4, -32768, 32767))))
  }

  test("hostile bytes never throw: every truncation and flip, digest-pinned") {
    val d = FuzzDigest.sweep(goldenStereo)(WavCodec.decode)
    assert(d == "120/26:0f178030b8c5f94d", d)
  }
}
