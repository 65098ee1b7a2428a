package graft

import graft.sources.Mp4Codec

/** Contract specs for the ISO-BMFF sample-table walker: run-length
  * expansion of stts/stsc/ctts, constant vs tabulated stsz, stco vs
  * co64, stss sync semantics, box-skipping, the refusal contract
  * (fragmented files, truncation, hostile sizes), and never-throw
  * under fuzz. Fixtures come from the independent from-scratch Python
  * ISO-BMFF writer (tools/mp4_golden.py); per-sample value grading
  * runs through the oracle-graded q_mp4_samples. */
class Mp4CodecSpec extends SparkSpec {

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.base, "q_mp4_samples", name))

  test("single video track: chunks, sizes, timing, ctts, sync flags") {
    val ss = Mp4Codec.decode(fixture("vid-00.mp4")).get
    assert(ss.length == 10)
    assert(ss.forall(s => s.track == 1 && s.handler == "vide" &&
      s.codec == "avc1"))
    // stsc (1,4)(3,2): chunks 0,1 carry 4 samples, chunk 2 carries 2
    assert(ss.map(_.chunk) == Vector(0, 0, 0, 0, 1, 1, 1, 1, 2, 2))
    assert(ss.map(_.size) ==
      Vector(900L, 120, 80, 150, 700, 95, 130, 110, 650, 60))
    // stts (6,20)(4,25): dts accumulates 20s then 25s
    assert(ss.map(_.dts) ==
      Vector(0L, 20, 40, 60, 80, 100, 120, 145, 170, 195))
    assert(ss.map(_.dur) == Vector(20L, 20, 20, 20, 20, 20, 25, 25, 25, 25))
    // ctts (1,0)(2,40)(3,0)(2,40)(2,0)
    assert(ss.map(s => s.pts - s.dts) ==
      Vector(0L, 40, 40, 0, 0, 0, 40, 40, 0, 0))
    assert(ss.map(_.sync) == Vector(true, false, false, false, true,
      false, false, false, true, false))
    // samples within a chunk are contiguous; chunks are where stco says
    assert(ss(1).off == ss(0).off + ss(0).size)
    assert(ss(4).off > ss(3).off + ss(3).size - 1)
  }

  test("A/V file: constant-size audio, no stss means all-sync, skip boxes") {
    val ss = Mp4Codec.decode(fixture("av-01.mp4")).get
    val aud = ss.filter(_.track == 2)
    assert(aud.length == 8 && aud.forall(s => s.handler == "soun" &&
      s.codec == "mp4a" && s.size == 64 && s.sync))
    assert(aud.map(_.dts) == Vector.tabulate(8)(i => 1024L * i))
    val vid = ss.filter(_.track == 1)
    assert(vid.length == 5 && vid.map(_.sync) ==
      Vector(true, false, false, true, false))
    // interleaved chunks: each track's chunk offsets ascend through mdat
    assert(aud.map(_.off) == aud.map(_.off).sorted)
  }

  test("co64 offsets and version-1 time boxes decode identically") {
    val ss = Mp4Codec.decode(fixture("co64-02.mp4")).get
    assert(ss.length == 4 && ss.forall(_.codec == "hvc1"))
    assert(ss.map(_.dur).forall(_ == 3000L))
    assert(ss.map(_.chunk) == Vector(0, 0, 1, 1))
    assert(ss.map(_.sync) == Vector(true, false, true, false))
  }

  test("edit lists shift pts: empty-edit delay, media_time, v1 entries") {
    // cap-08: empty edit of 500 movie-ms then media_time=1000 at
    // timescale 1000 -> every pts shifts by 500 - 1000 = -500; the
    // first two samples present BEFORE the edit start (negative pts)
    val c8 = Mp4Codec.decode(fixture("cap-08.mp4")).get
    assert(c8.length == 12)
    assert(c8.map(_.pts) == (0 until 12).map(i => i * 250L - 500L).toVector)
    assert(c8.map(_.dts) == (0 until 12).map(_ * 250L).toVector) // dts unshifted
    // elst-09: v1 (64-bit) entries, media_time=3000 only, tsc 90000
    val e9 = Mp4Codec.decode(fixture("elst-09.mp4")).get
    assert(e9.length == 5)
    val cts = Vector(6000L, 3000L, 3000L, 3000L, 0L)
    assert(e9.map(_.pts) ==
      e9.zipWithIndex.map { case (s, i) => s.dts + cts(i) - 3000L })
    // multi-segment edit whose media ranges OVERLAP (M1=300 rewinds
    // into [0,400) — the media would be re-presented, two pts per
    // sample): refuse, don't pick one
    assert(Mp4Codec.decode(fixture("badelst-10.mp4")).isEmpty)
    // multi-segment edit with a media GAP (elstgap-13: delay 300,
    // [1000,1400)→[300,700), [2000,2500)→[700,1200)): per-segment
    // pts mapping, samples outside every segment DROPPED — the
    // player semantics. 12 composed samples, 4 presented.
    val g13 = Mp4Codec.decode(fixture("elstgap-13.mp4")).get
    assert(g13.length == 4)
    assert(g13.map(s => (s.smp, s.dts, s.pts)) == Vector(
      (4, 1000L, 300L), (5, 1250L, 550L),
      (8, 2000L, 700L), (9, 2250L, 950L)))
    assert(g13.map(_.sync) == Vector(true, false, true, false))
    // multi-segment edit that CLEANLY CONCATENATES (empty edit 300 +
    // segments at M0=2000 then M1=2400=2000+400·tsc/movieTsc): the
    // split-at-keyframe editor shape — collapses to the one flat
    // shift 300 - 2000 = -1700 ms
    val e11 = Mp4Codec.decode(fixture("elst2-11.mp4")).get
    assert(e11.length == 8)
    assert(e11.map(_.pts) == (0 until 8).map(i => i * 250L - 1700L).toVector)
    assert(e11.map(_.dts) == (0 until 8).map(_ * 250L).toVector)
    // a dwell edit (media_rate 0, freeze-frame): refuse
    assert(Mp4Codec.decode(fixture("baddwell-12.mp4")).isEmpty)
    // make elst2-11's second segment non-contiguous (M1 2400 -> 2401):
    // a one-tick GAP is no longer a refusal — it becomes a legal
    // gapped list under the per-segment mapping, and the media range
    // it presents ([2000,2400) ∪ [2401,3001)) contains NONE of the
    // file's cts values beyond segment 1's, so the mutation must
    // change WHICH samples present, never shift approximately:
    // segment 1's four samples keep the exact -1700 shift and the
    // second segment's samples (cts 2400..2750 in the original
    // concatenated read) now fall at/before the 2401 start — only
    // cts ≥ 2401 would present, dropping the one-tick-straddling
    // sample at cts 2400.
    val r11 = fixture("elst2-11.mp4")
    val eAt = r11.indexOfSlice("elst".getBytes("US-ASCII"))
    assert(eAt > 0)
    val mtAt = eAt + 4 + 8 + 2 * 12 + 4
    assert(((r11(mtAt + 2) & 0xff) << 8 | (r11(mtAt + 3) & 0xff)) == 2400)
    val g = r11.clone(); g(mtAt + 3) = (g(mtAt + 3) + 1).toByte
    val g11 = Mp4Codec.decode(g).get
    // original: 8 samples, cts = dts = i*250 ∈ [0,1750] — all inside
    // segment 1's media range? No: [2000,2400) covers none of them;
    // under the CONCATENATED original they presented via the flat
    // collapse. Under the mutated gapped list, presentation is
    // media-range-gated: no cts falls in either range -> all dropped.
    assert(g11.isEmpty,
      "one-tick gap must gate presentation by media range, not drift")
    // media_rate is 16.16 fixed-point: rate 1.5 (integer 1,
    // fraction 0x8000) is a dwell/speed edit — refuse, don't treat
    // as a flat shift. elst-09 is v1: entry at elst body + 8,
    // fraction at +18; flip its high byte.
    val raw = fixture("elst-09.mp4")
    val at = raw.indexOfSlice("elst".getBytes("US-ASCII"))
    assert(at > 0)
    val fracAt = at + 4 + 8 + 18 // body(ver+cnt=8) + entry offset 18
    assert(raw(fracAt) == 0 && raw(fracAt + 1) == 0, "expected rate x.0")
    val m = raw.clone(); m(fracAt) = 0x80.toByte
    assert(Mp4Codec.decode(m).isEmpty, "fractional media_rate accepted")
    // a huge v1 empty-edit duration (~2^62 movie ticks) must refuse
    // via the 2^53 delay bound — summed durations could otherwise
    // wrap into a silent negative shift
    val big = raw.clone()
    for (b <- 0 until 8) {
      val p = at + 4 + 8 // entry 0
      big(p + b) = (if (b == 0) 0x3f else 0xff).toByte // dur ~2^62
      big(p + 8 + b) = 0xff.toByte // media_time = -1 (empty edit)
    }
    assert(Mp4Codec.decode(big).isEmpty, "unbounded empty edit accepted")
  }

  test("refusals: truncated mdat, size<8 box, no moov, unanchored moof") {
    // frag-03 (a moof with no traf) now PARSES under the fragment
    // walk — to zero samples, the same absent-from-golden observable
    assert(Mp4Codec.decode(fixture("frag-03.mp4")).exists(_.isEmpty))
    assert(Mp4Codec.decode(fixture("trunc-04.mp4")).isEmpty,
      "a sample table naming unfetchable bytes must refuse")
    assert(Mp4Codec.decode(fixture("badbox-05.mp4")).isEmpty, "size<8")
    assert(Mp4Codec.decode(Array.emptyByteArray).isEmpty)
    assert(Mp4Codec.decode("ftypnotabox".getBytes).isEmpty)
    // a moof BEFORE any moov has no track anchor: refuse
    val f = fixture("fmp4-07.mp4")
    val moofAt = {
      var p = 0; var found = -1
      while (found < 0 && p + 8 <= f.length) {
        val sz = ((f(p) & 0xff) << 24) | ((f(p + 1) & 0xff) << 16) |
          ((f(p + 2) & 0xff) << 8) | (f(p + 3) & 0xff)
        if (new String(f, p + 4, 4) == "moof") found = p else p += sz
      }
      found
    }
    assert(moofAt > 0)
    assert(Mp4Codec.decode(f.drop(moofAt)).isEmpty, "moof before moov")
  }

  test("fragmented file: trex/tfhd defaults, trun overrides, base anchoring") {
    val ss = Mp4Codec.decode(fixture("fmp4-07.mp4")).get
    assert(ss.length == 9)
    assert(ss.forall(s => s.track == 1 && s.handler == "vide" &&
      s.codec == "avc1" && s.tsc == 1000))
    // samples number contiguously across fragments; one chunk per traf
    assert(ss.map(_.smp) == Vector(0, 1, 2, 3, 4, 5, 6, 7, 8))
    assert(ss.map(_.chunk) == Vector(0, 0, 0, 0, 1, 1, 1, 2, 2))
    // frag 1: trex duration default + tfhd size default +
    // first-sample-flags (only sample 0 is sync)
    assert(ss.take(4).map(_.dur).forall(_ == 100))
    assert(ss.take(4).map(_.size).forall(_ == 50))
    assert(ss.take(4).map(_.sync) == Vector(true, false, false, false))
    // frag 2: v1 trun with per-sample size/flags/SIGNED cts; tfhd
    // duration override; dts continues from frag 1 (no tfdt)
    assert(ss(4).dts == 400 && ss(4).dur == 200 && ss(4).size == 70)
    assert(ss(6).pts == 800 - 20, "negative v1 composition offset")
    // frag 3: explicit base-data-offset, two truns chaining, tfdt
    // rebase to 5000, trex non-sync default applies
    assert(ss(7).dts == 5000 && ss(7).dur == 150)
    assert(ss(8).dts == 5150 && ss(8).dur == 250)
    assert(!ss(7).sync && !ss(8).sync)
    assert(ss(8).off == ss(7).off + ss(7).size, "second trun continues")
  }

  test("fragmented fixture survives truncation and fuzz without throwing") {
    val f = fixture("fmp4-07.mp4")
    val fz = new FuzzDigest
    (0 until f.length by 5).foreach(k => fz.add(Mp4Codec.decode(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x4b).toByte
      fz.add(Mp4Codec.decode(m))
      j += 1
    }
    assert(fz.hex == "1589/1033:49255ede1eabeeea", fz.hex)
  }

  test("hostile bytes never throw: truncations and single-byte fuzz") {
    val good = fixture("vid-00.mp4")
    val fz = new FuzzDigest
    (0 until good.length by 3).foreach(k => fz.add(Mp4Codec.decode(good.take(k))))
    var j = 0
    while (j < good.length) {
      val m = good.clone(); m(j) = (m(j) ^ 0x6e).toByte
      fz.add(Mp4Codec.decode(m))
      j += 1
    }
    val av = fixture("av-01.mp4")
    j = 0
    while (j < av.length) {
      val m = av.clone(); m(j) = 0x7f
      fz.add(Mp4Codec.decode(m))
      j += 2
    }
    assert(fz.hex == "6207/4618:0991d28770d4f08d", fz.hex)
  }

  test("distributed ingest: per-sample rows with fetch-proving md5s") {
    val df = graft.sources.GeoIngest.mp4.read(
      spark, graft.Fixtures.path("q_mp4_samples"))
    val byFile = df.groupBy("file").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byFile == Map(
      "vid-00.mp4" -> 10L, "av-01.mp4" -> 13L, "co64-02.mp4" -> 4L,
      "cap-06.mp4" -> 12L, "cap-07.mp4" -> 8L, "fmp4-07.mp4" -> 9L,
      "cap-08.mp4" -> 12L, "elst-09.mp4" -> 5L, "elst2-11.mp4" -> 8L,
      "elstgap-13.mp4" -> 4L))
    // md5s are all distinct across samples (every payload differs)
    import org.apache.spark.sql.functions.countDistinct
    val n = df.agg(countDistinct("md5")).head().getLong(0)
    assert(n == 85L)
  }

  test("mux round-trips through the walker: chunking, timing, sync, bytes") {
    val outs = for (n <- Seq(1, 3, 4, 5, 8, 9)) yield {
      val subs = (0 until n).map(i =>
        s"payload-$i-${"x" * (i % 5)}".getBytes("UTF-8"))
      val bytes = Mp4Codec.mux(subs, 1000, 100)
      val ss = Mp4Codec.decode(bytes).getOrElse(fail(s"n=$n refused"))
      assert(ss.length == n, s"n=$n")
      assert(ss.map(_.chunk) == (0 until n).map(_ / 4).toVector, s"n=$n")
      assert(ss.map(_.dts) == (0 until n).map(_ * 100L).toVector)
      assert(ss.map(_.sync) == (0 until n).map(_ % 3 == 0).toVector)
      assert(ss.forall(_.tsc == 1000L))
      ss.zipWithIndex.foreach { case (s, i) =>
        val got = java.util.Arrays.copyOfRange(bytes, s.off.toInt,
          (s.off + s.size).toInt)
        assert(java.util.Arrays.equals(got, subs(i)), s"n=$n i=$i bytes")
      }
      bytes
    }
    // the muxer's exact bytes, pinned so a writer refactor stays identical
    assert(Sha256.hex(outs) == "025e8d17532b14b32d7128e3957b1896ecf5eb0f1b343d056487adcf0638fe88", Sha256.hex(outs))
  }

  test("track timescale rides every sample (the wall-time conversion key)") {
    val ss = Mp4Codec.decode(fixture("cap-06.mp4")).get
    assert(ss.length == 12 && ss.forall(_.tsc == 1000L))
    assert(Mp4Codec.decode(fixture("av-01.mp4")).get
      .filter(_.track == 2).forall(_.tsc == 44100L))
    assert(Mp4Codec.decode(fixture("co64-02.mp4")).get
      .forall(_.tsc == 90000L))
  }
}
