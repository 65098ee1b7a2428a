package graft.sources

import Bytes._

/** MP4 / ISO-BMFF sample-table walker (ISO/IEC 14496-12) — the first
  * thing a video pipeline does with a crawled MP4 is NOT decode: it
  * recovers the per-sample (offset, size, timestamp, sync) table from
  * `moov/trak/mdia/minf/stbl` so frames can be ranged-fetched and
  * stride-sampled (the q_frame_sample discipline over REAL container
  * bytes; decode itself needs codec libraries and stays out of engine
  * scope, the same stub boundary as the brief's multimodal columns).
  * Reference-adjacent anchor: the reference's imagery ingest walks
  * GeoTIFF containers the same way (dataops/monthly.py) — container
  * math in-engine, pixel codecs at the edge.
  *
  * Walk: length-prefixed boxes (32-bit size, size=1 → 64-bit
  * largesize, size=0 → to-end-of-enclosure), unknown boxes skipped by
  * size as the spec requires; per track the sample-table quartet
  * stts/stsc/stsz/stco (+ co64 64-bit offsets, stss sync table, ctts
  * composition offsets v0 unsigned and v1 signed) expands run-length
  * entries to one row per sample. Every sample's byte span is
  * bounds-checked against the file — the table is only emitted if the
  * payloads it names are actually fetchable.
  *
  * FRAGMENTED files (fMP4 — the DASH/HLS/CMAF segment shape, a large
  * and growing share of crawled video) walk too: `moov/mvex/trex`
  * per-track defaults, then per-`moof` `traf` fragments — `tfhd`
  * base-data-offset / default-base-is-moof / implicit
  * end-of-previous-traf anchoring plus per-fragment defaults, `tfdt`
  * decode-time rebase, and `trun` per-sample duration/size/flags/
  * composition-offset overrides with first-sample-flags. Fragment
  * samples number contiguously per track after the moov table (an
  * init segment's empty stbl contributes zero), each traf taking the
  * next chunk ordinal; sync = !sample_is_non_sync_sample (bit 16 of
  * the sample flags word).
  *
  * EDIT LISTS (`edts/elst`, §8.6.6) apply to pts: the encoder-typical
  * shape — optional leading empty edits (media_time = -1, delaying by
  * segment_duration MOVIE ticks) followed by normal entries — shifts
  * every sample's pts by (delay·tsc/movieTsc − media_time[0]), moov
  * and fragment samples alike. MULTI-SEGMENT lists (every rate 1)
  * decode two ways: cleanly-concatenating lists (each media_time
  * exactly continuing the previous segment's media range — the
  * split-at-keyframe shape editor exports write) collapse to the
  * single-segment flat shift; GAPPED lists (each media range strictly
  * beyond the previous one) map pts PER SEGMENT — a sample presents
  * at the segment's presentation cursor plus its offset into the
  * segment's media range, and a sample outside every segment is
  * DROPPED, the player semantics. Dwell/speed rates (media_rate ≠ 1),
  * overlaps/rewinds (media re-presented: two pts per sample),
  * mid-list to-end durations, and inexact tick conversion refuse
  * whole-file rather than drift.
  *
  * Refusal contract (the [[GzipCodec]]/[[Hdf5Codec]] discipline):
  * whole-file None on any structural fault — a box size under 8 or
  * past its enclosure, a truncated table, stsc/stts/stsz/stco
  * inconsistencies, a sample span outside the file, counts over
  * [[MaxSamples]], a moof before any moov, a traf referencing an
  * undeclared track, or a trun sample with no duration/size source
  * at any level. Never throws. */
object Mp4Codec {

  /** One sample: 0-based index and chunk, absolute file offset/size,
    * decode + presentation timestamps in track-timescale units (`tsc`
    * ticks per second, from mdhd — what converts dts/pts to wall
    * time for caption alignment and stride sampling). */
  case class Sample(track: Int, handler: String, codec: String,
      tsc: Long, smp: Int, chunk: Int, off: Long, size: Long,
      dts: Long, dur: Long, pts: Long, sync: Boolean)

  val MaxSamples: Int = 1 << 20
  val MaxTracks: Int = 64

  def decode(bytes: Array[Byte]): Option[Vector[Sample]] =
    refusing(run(bytes))

  /** A 64-bit offset or size: past 2^63 is hostile, not media. */
  private def off64(b: Array[Byte], p: Long): Long = {
    val v = be64(b, p)
    if (v < 0) refuse()
    v
  }

  /** Walk the box sequence in [from, to), invoking f(type, header
    * start, body start, body end). Size 1 → 64-bit largesize; size
    * 0 → runs to the end of the enclosure. The header position is
    * what `moof` anchoring needs: default-base-is-moof offsets are
    * relative to the first byte of the moof BOX, header included.
    * AvifCodec walks its HEIF boxes with the same walker. */
  private[sources] def boxes4(b: Array[Byte], from: Long, to: Long)(
      f: (String, Long, Long, Long) => Unit): Unit = {
    var p = from
    while (p < to) {
      if (p + 8 > to) refuse()
      val sz0 = be32(b, p)
      val typ = fourcc(b, p + 4)
      val (bodyAt, end) =
        if (sz0 == 1) { if (p + 16 > to) refuse(); (p + 16, p + off64(b, p + 8)) }
        else if (sz0 == 0) (p + 8, to)
        else (p + 8, p + sz0)
      if (end < bodyAt || end > to) refuse()
      f(typ, p, bodyAt, end)
      p = end
    }
  }
  private[sources] def boxes(b: Array[Byte], from: Long, to: Long)(
      f: (String, Long, Long) => Unit): Unit =
    boxes4(b, from, to)((t, _, a, e) => f(t, a, e))

  /** Mux one video track: samples become the mdat payloads in chunks
    * of up to 4, one stts run (`dur` ticks each), sync every third
    * sample, stsc collapsing to one entry when the last chunk is full
    * and two otherwise — a from-scratch ISO-BMFF writer mirroring the
    * walker's envelope exactly (the GifCodec.encode discipline: the
    * corpus-driven q_mp4_roundtrip grades writer∘walker against pure
    * SQL arithmetic). */
  def mux(samples: Seq[Array[Byte]], timescale: Int, dur: Int): Array[Byte] = {
    require(samples.nonEmpty && samples.size <= 4096, s"${samples.size}")
    val n = samples.size
    val nChunks = (n + 3) / 4
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be(8L + body.length, 4) ++ typ.getBytes("US-ASCII") ++ body
    def full(typ: String, body: Array[Byte]): Array[Byte] =
      box(typ, Array[Byte](0, 0, 0, 0) ++ body)
    val total = n.toLong * dur
    val mvhd = full("mvhd", be(3, 4) ++ be(4, 4) ++ be(timescale, 4) ++
      be(total, 4) ++ be(0x00010000, 4) ++ be(0x0100, 2) ++ new Array[Byte](10) ++
      Array(0x10000L, 0L, 0L, 0L, 0x10000L, 0L, 0L, 0L, 0x40000000L)
        .flatMap(be(_, 4)) ++ new Array[Byte](24) ++ be(2, 4))
    val tkhd = box("tkhd", Array[Byte](0, 0, 0, 3) ++ be(3, 4) ++ be(4, 4) ++
      be(1, 4) ++ be(0, 4) ++ be(total, 4) ++ new Array[Byte](8) ++
      be(0, 2) ++ be(0, 2) ++ be(0x0100, 2) ++ be(0, 2) ++
      Array(0x10000L, 0L, 0L, 0L, 0x10000L, 0L, 0L, 0L, 0x40000000L)
        .flatMap(be(_, 4)) ++ be(640L << 16, 4) ++ be(480L << 16, 4))
    val mdhd = full("mdhd", be(3, 4) ++ be(4, 4) ++ be(timescale, 4) ++
      be(total, 4) ++ be(0x55c4, 2) ++ be(0, 2))
    val hdlr = full("hdlr", be(0, 4) ++ "vide".getBytes ++
      new Array[Byte](12) ++ "graft mux".getBytes ++ Array[Byte](0))
    val dref = full("dref", be(1, 4) ++
      box("url ", Array[Byte](0, 0, 0, 1)))
    val entry = box("avc1", new Array[Byte](6) ++ be(1, 2) ++
      Array.fill[Byte](16)(0xaa.toByte))
    val stsd = full("stsd", be(1, 4) ++ entry)
    val stts = full("stts", be(1, 4) ++ be(n, 4) ++ be(dur, 4))
    val stsc = {
      val lastCount = n - 4 * (nChunks - 1)
      val entries =
        if (nChunks == 1) Vector((1, n))
        else if (lastCount == 4) Vector((1, 4))
        else Vector((1, 4), (nChunks, lastCount))
      full("stsc", be(entries.size, 4) ++
        entries.toArray.flatMap { case (f, c) => be(f, 4) ++ be(c, 4) ++ be(1, 4) })
    }
    val stsz = full("stsz", be(0, 4) ++ be(n, 4) ++
      samples.toArray.flatMap(s => be(s.length, 4)))
    val stss = {
      val syncs = (0 until n).filter(_ % 3 == 0).map(_ + 1)
      full("stss", be(syncs.size, 4) ++ syncs.toArray.flatMap(i => be(i, 4)))
    }
    // chunk offsets need the header length: build moov with zeroed
    // stco to measure, then rebuild with truth (the writer two-pass)
    def assemble(offs: Seq[Long]): Array[Byte] = {
      val stco = full("stco", be(offs.size, 4) ++ offs.toArray.flatMap(be(_, 4)))
      val stbl = box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco ++ stss)
      val vmhd = box("vmhd", Array[Byte](0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0))
      val minf = box("minf", vmhd ++ box("dinf", dref) ++ stbl)
      val mdia = box("mdia", mdhd ++ hdlr ++ minf)
      val moov = box("moov", mvhd ++ box("trak", tkhd ++ mdia))
      val ftyp = box("ftyp", "isom".getBytes ++ be(512, 4) ++
        "isommp41".getBytes)
      ftyp ++ moov
    }
    val headLen = assemble(Seq.fill(nChunks)(0L)).length
    val offs = Vector.newBuilder[Long]
    var pos = headLen + 8L
    var i = 0
    while (i < n) {
      if (i % 4 == 0) offs += pos
      pos += samples(i).length
      i += 1
    }
    val mdat = box("mdat", samples.toArray.flatten)
    assemble(offs.result()) ++ mdat
  }

  private def run(b: Array[Byte]): Vector[Sample] = {
    val samples = Vector.newBuilder[Sample]
    var sawMoov = false
    var nTracks = 0
    var nSamples = 0L
    // per-track state the FRAGMENT walk needs: static meta from the
    // moov trak (handler/codec/timescale), trex defaults from mvex,
    // and running continuation state (next dts / sample index /
    // fragment ordinal) so samples number contiguously across moofs
    var movieTsc = 0L // mvhd timescale: converts empty-edit durations
    val trackMeta = scala.collection.mutable.Map // handler, codec, tsc, moovChunks, editMap
      .empty[Int, (String, String, Long, Int, Vector[(Long, Long, Long)])]
    // edit-list mapping: first segment containing cts wins (segments
    // are disjoint by construction); None = outside the presentation,
    // the sample is dropped. The flat-shift shapes are one unbounded
    // segment, so nothing is ever dropped there.
    def editedPts(em: Vector[(Long, Long, Long)], cts: Long): Option[Long] = {
      var j = 0
      while (j < em.length) {
        val (s, e, shift) = em(j)
        if (cts >= s && cts < e) return Some(cts + shift)
        j += 1
      }
      None
    }
    val trexDefs = scala.collection.mutable.Map
      .empty[Int, (Long, Long, Long)] // defaultDur, defaultSize, defaultFlags
    val nextDts = scala.collection.mutable.Map.empty[Int, Long]
    val nextSi = scala.collection.mutable.Map.empty[Int, Int]
    val fragOrd = scala.collection.mutable.Map.empty[Int, Int]

    def readTrack(tFrom: Long, tTo: Long): Unit = {
      if (nTracks >= MaxTracks) refuse()
      nTracks += 1
      var trackId = -1
      var handler = ""
      var codec = ""
      var timescale = 0L
      var sttsRuns: Array[(Long, Long)] = null
      var cttsRuns: Array[(Long, Long)] = null
      var stscEnts: Array[(Long, Long)] = null // (firstChunk, samplesPerChunk)
      var sizes: Array[Long] = null
      var constSize = 0L
      var sampleCount = -1L
      var chunkOffs: Array[Long] = null
      var syncSet: java.util.HashSet[Long] = null
      var delayMovie = 0L  // empty-edit delay, MOVIE timescale ticks
      // normal (non-empty) edit entries in list order:
      // (segment_duration MOVIE ticks, media_time MEDIA ticks)
      var normals = Vector.empty[(Long, Long)]
      var sawElst = false

      def readStbl(sFrom: Long, sTo: Long): Unit =
        boxes(b, sFrom, sTo) { (typ, at, end) =>
          typ match {
            case "stsd" =>
              if (end - at < 8) refuse()
              val n = be32(b, at + 4)
              if (n >= 1) {
                // first sample entry: size(4) + format 4cc; the
                // codec-specific tail is opaque by design
                if (end - at < 16) refuse()
                codec = fourcc(b, at + 12)
              }
            case "stts" =>
              val n = be32(b, at + 4)
              if (at + 8 + n * 8 > end || n > MaxSamples) refuse()
              sttsRuns = Array.tabulate(n.toInt)(i =>
                (be32(b, at + 8 + i * 8L), be32(b, at + 12 + i * 8L)))
            case "ctts" =>
              val v = u8(b, at)
              val n = be32(b, at + 4)
              if (at + 8 + n * 8 > end || n > MaxSamples) refuse()
              cttsRuns = Array.tabulate(n.toInt) { i =>
                val c = be32(b, at + 8 + i * 8L)
                val raw = be32(b, at + 12 + i * 8L)
                (c, if (v == 1) raw.toInt.toLong else raw)
              }
            case "stsc" =>
              val n = be32(b, at + 4)
              if (at + 8 + n * 12 > end || n > MaxSamples) refuse()
              stscEnts = Array.tabulate(n.toInt)(i =>
                (be32(b, at + 8 + i * 12L), be32(b, at + 12 + i * 12L)))
            case "stsz" =>
              constSize = be32(b, at + 4)
              sampleCount = be32(b, at + 8)
              if (sampleCount > MaxSamples) refuse()
              if (constSize == 0) {
                if (at + 12 + sampleCount * 4 > end) refuse()
                sizes = Array.tabulate(sampleCount.toInt)(i =>
                  be32(b, at + 12 + i * 4L))
              }
            case "stco" =>
              val n = be32(b, at + 4)
              if (at + 8 + n * 4 > end || n > MaxSamples) refuse()
              chunkOffs = Array.tabulate(n.toInt)(i => be32(b, at + 8 + i * 4L))
            case "co64" =>
              val n = be32(b, at + 4)
              if (at + 8 + n * 8 > end || n > MaxSamples) refuse()
              chunkOffs = Array.tabulate(n.toInt)(i => off64(b, at + 8 + i * 8L))
            case "stss" =>
              val n = be32(b, at + 4)
              if (at + 8 + n * 4 > end || n > MaxSamples) refuse()
              syncSet = new java.util.HashSet[Long]()
              var i = 0
              while (i < n) { syncSet.add(be32(b, at + 8 + i * 4L)); i += 1 }
            case _ => () // stsh/stdp/sgpd/…: not needed for the table
          }
        }

      boxes(b, tFrom, tTo) { (typ, at, end) =>
        typ match {
          case "tkhd" =>
            val v = u8(b, at)
            trackId = (if (v == 1) be32(b, at + 20) else be32(b, at + 12)).toInt
          case "edts" =>
            // elst (§8.6.6): the presentation timeline mapping most
            // real-world encoders write — leading EMPTY edits
            // (media_time = -1) delay the whole track by
            // segment_duration MOVIE ticks, then normal entries start
            // presentation at media_time MEDIA ticks. Entries are
            // COLLECTED here and validated after the track walk (the
            // mdhd timescale the contiguity check needs may parse
            // after edts); dwell/speed rates refuse immediately —
            // no flat per-sample pts shift exists for them.
            boxes(b, at, end) { (t2, a2, e2) =>
              if (t2 == "elst") {
                if (sawElst) refuse()
                sawElst = true
                if (a2 + 8 > e2) refuse()
                val v = u8(b, a2)
                val cnt = be32(b, a2 + 4)
                val esz = if (v == 1) 20 else 12
                if (cnt > 64 || a2 + 8 + cnt * esz > e2) refuse()
                var i = 0L
                while (i < cnt) {
                  val p = a2 + 8 + i * esz
                  // media_time is SIGNED (-1 = empty edit); v1 is
                  // 64-bit so read it raw, not via the hostile-
                  // offset-guarded u64
                  val (segDur, mTime, rateInt, rateFrac) =
                    if (v == 1) (off64(b, p), (be32(b, p + 8) << 32) | be32(b, p + 12),
                      be16(b, p + 16), be16(b, p + 18))
                    else (be32(b, p), be32(b, p + 4).toInt.toLong, be16(b, p + 8),
                      be16(b, p + 10))
                  if (mTime == -1L) {
                    // empty edits only LEAD: one after a normal entry
                    // is a mid-presentation gap, not a flat shift
                    if (normals.nonEmpty) refuse()
                    // bound the sum: two huge v1 durations must refuse,
                    // not wrap into a silent negative shift
                    if (segDur > (1L << 53) - delayMovie) refuse()
                    delayMovie += segDur
                  } else {
                    // media_rate is 16.16 fixed-point: 1.5 has integer
                    // part 1 — a dwell/speed edit must refuse too
                    if (mTime < 0 || rateInt != 1 || rateFrac != 0) refuse()
                    if (segDur > (1L << 53)) refuse()
                    normals :+= ((segDur, mTime))
                  }
                  i += 1
                }
              }
            }
          case "mdia" =>
            boxes(b, at, end) { (t2, a2, e2) =>
              t2 match {
                case "mdhd" =>
                  val v = u8(b, a2)
                  timescale = if (v == 1) be32(b, a2 + 20) else be32(b, a2 + 12)
                case "hdlr" =>
                  if (e2 - a2 < 12) refuse()
                  handler = fourcc(b, a2 + 8)
                case "minf" =>
                  boxes(b, a2, e2) { (t3, a3, e3) =>
                    if (t3 == "stbl") readStbl(a3, e3)
                  }
                case _ => ()
              }
            }
          case _ => ()
        }
      }

      // presentation mapping from the edit list. SINGLE-SEGMENT (or
      // no elst): pts_presented = cts - media_time + empty-edit delay
      // (converted movie→media ticks) — samples composed before the
      // edit start go negative; players clip them; the table reports
      // them faithfully. MULTI-SEGMENT lists (every rate 1, enforced
      // at parse) decode two ways:
      //  - CLEANLY CONCATENATING (each next media_time exactly
      //    continues the previous segment's media range, M[j+1] =
      //    M[j] + D[j]·tsc/movieTsc, integral) — the split-at-
      //    keyframe shape editors export — replays the media
      //    continuously and collapses to the same flat shift as one
      //    segment from M[0] (behavior unchanged, goldens pinned);
      //  - GAPPED (M[j+1] strictly beyond the previous media end):
      //    per-segment mapping, the player semantics — a sample whose
      //    cts falls inside segment j presents at
      //    P[j] + (cts - M[j]) where P[j] is the presentation cursor
      //    (delay + prior segment durations, media ticks), and a
      //    sample OUTSIDE every segment is dropped, not presented.
      // Overlaps/rewinds (media re-presented), inexact tick
      // conversion, and a mid-list to-end-of-media duration (0)
      // remain whole-file refusals (ambiguous or re-sequenced pts),
      // as do dwell/speed rates (no per-sample rate exists in the
      // sample table).
      // editMap: (mediaStart, mediaEndExclusive, shift) segments —
      // pts = cts + shift for cts in [start, end); the flat-shift
      // shapes are ONE unbounded segment (nothing dropped).
      val editMap: Vector[(Long, Long, Long)] = {
        val delayMedia =
          if (delayMovie == 0) 0L
          else {
            if (movieTsc <= 0 || timescale <= 0) refuse()
            val prod = delayMovie * timescale
            if (prod / delayMovie != timescale) refuse() // overflow: hostile
            prod / movieTsc
          }
        if (normals.size <= 1) {
          val mediaTime = if (normals.isEmpty) 0L else normals.head._2
          Vector((Long.MinValue, Long.MaxValue, delayMedia - mediaTime))
        } else {
          if (movieTsc <= 0 || timescale <= 0) refuse()
          // convert each segment duration to media ticks (last entry
          // may be 0 = to-end-of-media → unbounded; mid-list 0 refuses)
          val dm = normals.zipWithIndex.map { case ((d, _), j) =>
            if (d == 0) {
              if (j != normals.size - 1) refuse() // mid-list to-end: refuse
              -1L
            } else {
              val prod = d * timescale
              if (prod / d != timescale) refuse() // overflow: hostile
              if (prod % movieTsc != 0) refuse()  // inexact: ambiguous pts
              prod / movieTsc
            }
          }
          val clean = (0 until normals.size - 1).forall(j =>
            normals(j + 1)._2 == normals(j)._2 + dm(j))
          if (clean)
            Vector((Long.MinValue, Long.MaxValue,
              delayMedia - normals.head._2))
          else {
            // gapped per-segment mapping; any overlap/rewind refuses
            var pres = delayMedia
            var prevEnd = Long.MinValue
            val segs = Vector.newBuilder[(Long, Long, Long)]
            var j = 0
            while (j < normals.size) {
              val m = normals(j)._2
              if (m < prevEnd) refuse() // overlap/rewind: media re-presented
              val end =
                if (dm(j) < 0) Long.MaxValue
                else {
                  if (m > (1L << 53) || dm(j) > (1L << 53)) refuse()
                  m + dm(j)
                }
              segs += ((m, end, pres - m))
              if (dm(j) > 0) pres += dm(j)
              prevEnd = end
              j += 1
            }
            segs.result()
          }
        }
      }

      // record static meta for the fragment walk (even when the moov
      // table is empty — the fMP4 shape: all samples live in moofs)
      if (trackId >= 0 && timescale > 0)
        trackMeta(trackId) = (handler, codec, timescale,
          if (chunkOffs == null) 0 else chunkOffs.length, editMap)

      // a track with no sample table (e.g. metadata-only) emits no rows
      if (sampleCount < 0 && chunkOffs == null && sttsRuns == null) return
      // an fMP4 init segment carries a PRESENT-but-empty quartet
      // (zero samples, zero chunks): nothing to expand, moofs follow
      if (sampleCount == 0 &&
          (chunkOffs == null || chunkOffs.isEmpty)) return
      if (trackId < 0 || sampleCount < 0 || sttsRuns == null ||
          stscEnts == null || chunkOffs == null) refuse()
      if (timescale <= 0) refuse() // mdhd absent or zero: times unusable
      val n = sampleCount.toInt
      if (constSize == 0 && (sizes == null || sizes.length != n)) refuse()

      // expand stts → per-sample durations (total count must match)
      val durs = new Array[Long](n)
      var di = 0
      sttsRuns.foreach { case (count, delta) =>
        if (count > n - di) refuse()
        var k = 0L
        while (k < count) { durs(di) = delta; di += 1; k += 1 }
      }
      if (di != n) refuse()
      // expand ctts → per-sample composition offsets (0 when absent)
      val ctsOff = new Array[Long](n)
      if (cttsRuns != null) {
        var ci = 0
        cttsRuns.foreach { case (count, off) =>
          if (count > n - ci) refuse()
          var k = 0L
          while (k < count) { ctsOff(ci) = off; ci += 1; k += 1 }
        }
        if (ci != n) refuse()
      }
      // expand stsc runs → per-chunk sample counts
      val nChunks = chunkOffs.length
      val spc = new Array[Long](nChunks)
      var e = 0
      while (e < stscEnts.length) {
        val first = stscEnts(e)._1
        val cnt = stscEnts(e)._2
        val last =
          if (e + 1 < stscEnts.length) stscEnts(e + 1)._1 else nChunks + 1L
        if (first < 1 || first > last || last > nChunks + 1L) refuse()
        var c = first
        while (c < last) { spc((c - 1).toInt) = cnt; c += 1 }
        e += 1
      }
      var spcSum = 0L
      spc.foreach(spcSum += _)
      if (spcSum != n) refuse()

      var si = 0
      var dts = 0L
      var ci2 = 0
      while (ci2 < nChunks) {
        var off = chunkOffs(ci2)
        var k = 0L
        while (k < spc(ci2)) {
          val size = if (constSize != 0) constSize else sizes(si)
          if (off < 0 || size < 0 || off + size > b.length) refuse()
          val sync = syncSet == null || syncSet.contains(si + 1L)
          editedPts(editMap, dts + ctsOff(si)).foreach { pts =>
            samples += Sample(trackId, handler, codec, timescale, si, ci2,
              off, size, dts, durs(si), pts, sync)
          }
          dts += durs(si)
          off += size
          si += 1
          k += 1
        }
        ci2 += 1
      }
      nSamples += n
      nextDts(trackId) = dts
      nextSi(trackId) = n
    }

    /** One track fragment: tfhd defaults + optional tfdt decode-time
      * rebase, then each trun's per-sample overrides (§8.8.7/8.8.8).
      * Returns the end of this traf's sample data — the IMPLICIT base
      * offset for the next traf when neither base-data-offset nor
      * default-base-is-moof is signalled. */
    def readTraf(tFrom: Long, tTo: Long, moofAt: Long, prevEnd: Long): Long = {
      var trackId = -1
      var baseOff = -1L
      var defDur = -1L
      var defSize = -1L
      var defFlags = -1L
      var baseIsMoof = false
      var tfdtTime = -1L
      val truns = Vector.newBuilder[(Long, Long)]
      boxes(b, tFrom, tTo) { (typ, at, end) =>
        typ match {
          case "tfhd" =>
            if (at + 8 > end) refuse()
            val flags = be24(b, at + 1)
            trackId = be32(b, at + 4).toInt
            // every optional field read is bounded by the ENCLOSING
            // box end BEFORE the read — a trailing p > end check
            // would already have read the next box's header bytes
            var p = at + 8
            if ((flags & 0x01) != 0) {
              if (p + 8 > end) refuse(); baseOff = off64(b, p); p += 8
            }
            if ((flags & 0x02) != 0) p += 4 // sample-description-index
            if ((flags & 0x08) != 0) {
              if (p + 4 > end) refuse(); defDur = be32(b, p); p += 4
            }
            if ((flags & 0x10) != 0) {
              if (p + 4 > end) refuse(); defSize = be32(b, p); p += 4
            }
            if ((flags & 0x20) != 0) {
              if (p + 4 > end) refuse(); defFlags = be32(b, p); p += 4
            }
            if (p > end) refuse()
            baseIsMoof = (flags & 0x20000) != 0
          case "tfdt" =>
            // version 1 carries a u64 decode time: 12 body bytes, not
            // 8 — an 8-byte body with a version-1 flag would silently
            // splice the next box's header into the decode time
            if (at + 8 > end) refuse()
            val v1 = u8(b, at) == 1
            if (v1 && at + 12 > end) refuse()
            tfdtTime = if (v1) off64(b, at + 4) else be32(b, at + 4)
          case "trun" => truns += ((at, end))
          case _ => () // sbgp/sgpd/subs/…: not needed for the table
        }
      }
      if (trackId < 0) refuse()
      val (handler, codec, timescale, moovChunks, editMap) =
        trackMeta.getOrElse(trackId, refuse())
      val trex = trexDefs.getOrElse(trackId, (-1L, -1L, -1L))
      val durDef = if (defDur >= 0) defDur else trex._1
      val sizeDef = if (defSize >= 0) defSize else trex._2
      val flagsDef = if (defFlags >= 0) defFlags else trex._3
      val base =
        if (baseOff >= 0) baseOff
        else if (baseIsMoof || prevEnd < 0) moofAt
        else prevEnd
      var dts = if (tfdtTime >= 0) tfdtTime else nextDts.getOrElse(trackId, 0L)
      var si = nextSi.getOrElse(trackId, 0)
      val chunk = moovChunks + fragOrd.getOrElse(trackId, 0)
      fragOrd(trackId) = fragOrd.getOrElse(trackId, 0) + 1
      var dataPos = -1L
      truns.result().foreach { case (at, end) =>
        if (at + 8 > end) refuse()
        val v = u8(b, at)
        val flags = be24(b, at + 1)
        val n = be32(b, at + 4)
        if (n > MaxSamples || nSamples + n > MaxSamples) refuse()
        // fixed-size pre-check: header + optional head fields +
        // 4 bytes per set per-sample flag
        val perSample = 4L * (((flags >> 8) & 1) + ((flags >> 9) & 1) +
          ((flags >> 10) & 1) + ((flags >> 11) & 1))
        val headBytes = (if ((flags & 0x01) != 0) 4 else 0) +
          (if ((flags & 0x04) != 0) 4 else 0)
        if (at + 8 + headBytes + n * perSample > end) refuse()
        var p = at + 8
        var off =
          if ((flags & 0x01) != 0) { val d = be32(b, p).toInt; p += 4; base + d }
          else if (dataPos >= 0) dataPos
          else base
        var firstFlags = -1L
        if ((flags & 0x04) != 0) { firstFlags = be32(b, p); p += 4 }
        var k = 0L
        while (k < n) {
          val dur =
            if ((flags & 0x100) != 0) { val d = be32(b, p); p += 4; d }
            else durDef
          val size =
            if ((flags & 0x200) != 0) { val s = be32(b, p); p += 4; s }
            else sizeDef
          val sflags =
            if ((flags & 0x400) != 0) { val x = be32(b, p); p += 4; x }
            else if (k == 0 && firstFlags >= 0) firstFlags
            else if (flagsDef >= 0) flagsDef
            else 0L
          val cts =
            if ((flags & 0x800) != 0) {
              val c = be32(b, p); p += 4
              if (v >= 1) c.toInt.toLong else c
            } else 0L
          if (dur < 0 || size < 0) refuse() // no duration/size source at all
          if (off < 0 || off + size > b.length) refuse()
          // sample_is_non_sync_sample is bit 16 of the flags word
          val sync = (sflags & 0x10000L) == 0
          editedPts(editMap, dts + cts).foreach { pts =>
            samples += Sample(trackId, handler, codec, timescale, si, chunk,
              off, size, dts, dur, pts, sync)
          }
          nSamples += 1
          dts += dur
          off += size
          si += 1
          k += 1
        }
        dataPos = off
      }
      nextDts(trackId) = dts
      nextSi(trackId) = si
      if (dataPos >= 0) dataPos else prevEnd
    }

    def readMoof(hdrAt: Long, mFrom: Long, mTo: Long): Unit = {
      var prevEnd = -1L
      boxes(b, mFrom, mTo) { (typ, at, end) =>
        typ match {
          case "traf" => prevEnd = readTraf(at, end, hdrAt, prevEnd)
          case _ => () // mfhd sequence number: informational
        }
      }
    }

    boxes4(b, 0L, b.length.toLong) { (typ, hdrAt, at, end) =>
      typ match {
        case "moof" =>
          // fragments reference moov-declared tracks; a moof before
          // any moov (or with no init data at all) is structurally
          // unanchorable — refuse rather than guess
          if (!sawMoov) refuse()
          readMoof(hdrAt, at, end)
        case "moov" =>
          sawMoov = true
          // mvhd first (it need not precede traks in file order and
          // empty-edit conversion needs the movie timescale)
          boxes(b, at, end) { (t2, a2, e2) =>
            if (t2 == "mvhd") {
              if (a2 + 4 > e2) refuse()
              val v = u8(b, a2)
              if (a2 + (if (v == 1) 24 else 16) > e2) refuse()
              movieTsc = if (v == 1) be32(b, a2 + 20) else be32(b, a2 + 12)
            }
          }
          boxes(b, at, end) { (t2, a2, e2) =>
            t2 match {
              case "moof" => refuse() // moof nested in moov: invalid
              case "trak" => readTrack(a2, e2)
              case "mvex" =>
                // trex: per-track fragment defaults (§8.8.3) —
                // FullBox, then track_ID, default_sample_description_
                // index, default_sample_duration/_size/_flags
                boxes(b, a2, e2) { (t3, a3, e3) =>
                  if (t3 == "trex") {
                    if (a3 + 24 > e3) refuse()
                    trexDefs(be32(b, a3 + 4).toInt) =
                      (be32(b, a3 + 12), be32(b, a3 + 16), be32(b, a3 + 20))
                  }
                }
              case _ => ()
            }
          }
        case _ => () // ftyp/mdat/free/styp/sidx/…: skipped by size
      }
    }
    if (!sawMoov) refuse()
    samples.result()
  }
}
