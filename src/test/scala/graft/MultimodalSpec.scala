package graft

import org.apache.spark.sql.functions._
import graft.operators.MultimodalOps
import graft.operators.MultimodalOps.{MediaMeta, MediaRow}

class MultimodalSpec extends SparkSpec {

  private def media = {
    import spark.implicits._
    Seq(
      MediaRow(1L, "image", "abcdefgh".getBytes("UTF-8"), MediaMeta(8, 1, 0, 1)),
      MediaRow(2L, "video", (0 until 40).map(_.toByte).toArray, MediaMeta(10, 1, 0, 4)),
      MediaRow(3L, "audio", Array.emptyByteArray, MediaMeta(0, 0, 16000, 1)),
    ).toDS()
  }

  test("decodeFeatures computes byte stats incl. empty payload") {
    val f = MultimodalOps.decodeFeatures(media).collect().sortBy(_.media_id)
    assert(f(0).n_bytes == 8 && f(0).byte_min == 'a'.toInt && f(0).byte_max == 'h'.toInt)
    assert(f(0).byte_mean == ('a' to 'h').map(_.toInt).sum / 8.0)
    assert(f(2).n_bytes == 0 && f(2).byte_mean == 0.0)
  }

  test("decodeFeatures is deterministic and partition-independent") {
    val a = MultimodalOps.decodeFeatures(media.repartition(1)).collect().sortBy(_.media_id).toSeq
    val b = MultimodalOps.decodeFeatures(media.repartition(3)).collect().sortBy(_.media_id).toSeq
    assert(a == b)
  }

  test("sampleFrames splits payload into nFrames chunks with stride") {
    val fr = MultimodalOps.sampleFrames(media.filter(col("media_id") === 2L), stride = 2)
      .collect().sortBy(_.frame_idx)
    assert(fr.map(_.frame_idx).toSeq == Seq(0, 2)) // 4 frames, stride 2
    assert(fr.forall(_.frame_bytes == 10)) // 40 bytes / 4 frames
    assert(fr(0).frame_sum == (0 until 10).sum.toLong)
  }

  test("resize stride-subsamples payload and updates metadata") {
    val r = MultimodalOps.resize(media.filter(col("media_id") === 2L), stride = 4)
      .collect().head
    assert(r.payload.length == 10) // every 4th of 40
    assert(r.meta.width == 2) // 10 / 4 floored, min 1
    assert(r.payload.toSeq == (0 until 40 by 4).map(_.toByte).toSeq)
  }

  private def p6(header: String, samples: Seq[Int]): Array[Byte] =
    header.getBytes("UTF-8") ++ samples.map(_.toByte).toArray

  test("decodePpm parses a conformant P6 header incl. comments") {
    val img = MultimodalOps.decodePpm(
      p6("P6 # comment\n# another line\n 2 2\n255\n", 10 to 21))
    assert(img.isDefined)
    assert(img.get.width == 2 && img.get.height == 2)
    assert(img.get.samples.toSeq == (10 to 21))
  }

  test("decodePpm rejects malformed payloads") {
    assert(MultimodalOps.decodePpm(p6("P5\n2 2\n255\n", 10 to 21)).isEmpty, "wrong magic")
    assert(MultimodalOps.decodePpm(p6("P6\n2 2\n65535\n", 10 to 21)).isEmpty, "16-bit maxval")
    assert(MultimodalOps.decodePpm(p6("P6\n2 2\n255\n", 10 to 19)).isEmpty, "truncated raster")
    assert(MultimodalOps.decodePpm(p6("P6\n2\n255\n", 10 to 21)).isEmpty, "missing height")
    assert(MultimodalOps.decodePpm("P6".getBytes("UTF-8")).isEmpty, "header only")
  }

  test("decodeFeatures computes features over TRUE decoded pixels for PPM payloads") {
    import spark.implicits._
    val ds = Seq(
      MediaRow(10L, "image", p6("P6\n2 2\n255\n", 10 to 21), MediaMeta(2, 2, 0, 1)),
      // not a PPM: features fall back to the raw payload bytes
      MediaRow(11L, "audio", Array[Byte](1, 2, 3), MediaMeta(0, 0, 16000, 1)),
    ).toDS()
    val f = MultimodalOps.decodeFeatures(ds).collect().sortBy(_.media_id)
    // hand-computed over samples 10..21 (NOT the 11-byte header + raster)
    assert(f(0).n_bytes == 12)
    assert(f(0).byte_mean == 15.5 && f(0).byte_min == 10 && f(0).byte_max == 21)
    assert(f(0).checksum == 47256660019942293L)
    assert(f(1).n_bytes == 3 && f(1).byte_min == 1 && f(1).byte_max == 3)
  }

  test("ppmFromDocuments emits real P6 payloads that round-trip through decodePpm") {
    import spark.implicits._
    val docs = Seq((7L, "abcdefghij", "en", "src1", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = MultimodalOps.ppmFromDocuments(docs)
      .as[MediaRow].collect().head
    assert(m.kind == "image" && m.meta.width == 3 && m.meta.height == 1)
    val img = MultimodalOps.decodePpm(m.payload)
    assert(img.isDefined)
    assert(img.get.samples.toSeq == "abcdefghi".map(_.toInt)) // first 3*⌊10/3⌋ chars
    val f = MultimodalOps.decodeFeatures(Seq(m).toDS()).collect().head
    assert(f.n_bytes == 9 && f.byte_mean == 101.0 && f.checksum == 85517489010789L)
  }

  test("encodeTiff → decodeTiff round-trips a two-strip raster") {
    val raster = (10 until 26).map(_.toByte).toArray // 8×2, RowsPerStrip=1
    val enc = MultimodalOps.encodeTiff(8, 2, raster)
    // the writer's exact bytes, pinned so a writer refactor stays identical
    assert(Sha256.hex(Seq(enc)) == "30d2f52760a12fb1fa6c9c4bff9a3fdc072aab21815125d90a6593d775081d7a", Sha256.hex(Seq(enc)))
    val img = MultimodalOps.decodeTiff(enc)
    assert(img.isDefined)
    assert(img.get.width == 8 && img.get.height == 2)
    assert(img.get.samples.toSeq == (10 until 26))
  }

  test("decodeTiff parses a big-endian single-strip TIFF") {
    // hand-built MM fixture: raster at offset 8, IFD at 12, SHORT value
    // left-justified in its 4-byte field (the byte-order trap)
    val buf = scala.collection.mutable.ArrayBuffer[Byte]()
    def w16(v: Int): Unit = { buf += ((v >> 8) & 0xff).toByte; buf += (v & 0xff).toByte }
    def w32(v: Int): Unit = { w16((v >>> 16) & 0xffff); w16(v & 0xffff) }
    buf += 'M'.toByte; buf += 'M'.toByte; w16(42); w32(12)
    Seq(50, 60, 70, 80).foreach(b => buf += b.toByte)
    w16(5)
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      w16(tag); w16(typ); w32(count)
      if (typ == 3) { w16(value); w16(0) } else w32(value)
    }
    entry(256, 4, 1, 2); entry(257, 4, 1, 2); entry(259, 3, 1, 1)
    entry(273, 4, 1, 8); entry(279, 4, 1, 4)
    w32(0)
    val img = MultimodalOps.decodeTiff(buf.toArray)
    assert(img.isDefined, "BE fixture must decode")
    assert(img.get.width == 2 && img.get.height == 2)
    assert(img.get.samples.toSeq == Seq(50, 60, 70, 80))
  }

  test("decodeTiff rejects unsupported or corrupt containers") {
    val ok = MultimodalOps.encodeTiff(4, 2, (0 until 8).map(_.toByte).toArray)
    assert(MultimodalOps.decodeTiff(ok).isDefined, "baseline fixture must decode")
    // Compression mis-tagged LZW (entry index 3 is tag 259; value at
    // ifd(16) + 2 + 3*12 + 8 = 62 in this writer's layout): the strip
    // holds RAW pixels, not an LZW stream — must refuse, not mis-decode
    // (real LZW containers decode via decodeTiffRaster, TiffRasterSpec)
    val lzw = ok.clone(); lzw(62) = 5
    assert(MultimodalOps.decodeTiff(lzw).isEmpty, "mis-tagged LZW must be refused")
    val truncated = ok.dropRight(4) // loses the StripByteCounts tail
    assert(MultimodalOps.decodeTiff(truncated).isEmpty, "truncated must be refused")
    val badMagic = ok.clone(); badMagic(0) = 'X'.toByte
    assert(MultimodalOps.decodeTiff(badMagic).isEmpty, "bad magic must be refused")
    // a PRESENT tag with an unsupported value type must poison the
    // decode, not read as absent-and-defaulted: rewrite the Compression
    // entry's type field (offset 54+2 in the writer's layout) to BYTE —
    // were it treated as absent, the default (=1, uncompressed) would
    // accept the container
    val badType = ok.clone(); badType(56) = 1
    assert(MultimodalOps.decodeTiff(badType).isEmpty,
      "unparseable Compression tag must be refused, not defaulted")
  }

  test("tiffFromDocuments emits real TIFFs that round-trip through decodeTiff") {
    import spark.implicits._
    val docs = Seq((7L, "abcdefghij", "en", "src1", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = MultimodalOps.tiffFromDocuments(docs).as[MediaRow].collect().head
    assert(m.kind == "image" && m.meta.width == 5 && m.meta.height == 2)
    val img = MultimodalOps.decodeTiff(m.payload)
    assert(img.isDefined)
    assert(img.get.samples.toSeq == "abcdefghij".map(_.toInt))
    val f = MultimodalOps.decodeFeatures(Seq(m).toDS()).collect().head
    assert(f.n_bytes == 10 && f.byte_min == 'a'.toInt && f.byte_max == 'j'.toInt)
  }

  test("decoders never throw on adversarial payloads — None is the only failure mode") {
    // a 100 TB web-crawl corpus WILL contain malformed containers; a
    // decoder that throws kills the task where None falls back to the
    // byte path. Crafted killers first:
    val killers = Seq(
      // TIFF whose IFD offset is near 2^31 (Int-truncates negative)
      "II".getBytes("UTF-8") ++ Array[Byte](42, 0, -1, -1, -1, 0x7f),
      // TIFF with entry offsets pointing past the end
      MultimodalOps.encodeTiff(4, 2, (0 until 8).map(_.toByte).toArray).take(20),
      // PPM with 8-digit dims: w*h*3 overflows Int
      "P6\n99999999 99999999\n255\n".getBytes("UTF-8") ++ Array[Byte](0, 0, 0),
      "P6\n16000 16000\n255\n".getBytes("UTF-8"),
      Array.emptyByteArray)
    killers.foreach { p =>
      assert(MultimodalOps.decodePpm(p).isEmpty, "crafted payload decoded as PPM")
      assert(MultimodalOps.decodeTiff(p).isEmpty, "crafted payload decoded as TIFF")
    }
    // then fuzz: random byte soup, plus random corruptions of a VALID
    // tiff so the IFD walk sees plausible-but-wrong structures
    val valid = MultimodalOps.encodeTiff(6, 2, (0 until 12).map(_.toByte).toArray)
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val soup = Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)
      MultimodalOps.decodePpm(soup); MultimodalOps.decodeTiff(soup)
      val corrupt = valid.clone()
      (1 to 4).foreach(_ => corrupt(rnd.nextInt(corrupt.length)) = rnd.nextInt(256).toByte)
      MultimodalOps.decodeTiff(corrupt).foreach { img =>
        assert(img.samples.length == img.width * img.height) // still-valid decodes stay consistent
      }
    }
    // widen the same contract to the compressed/typed raster decoder,
    // the LZW/deflate streams themselves, and the WAV codec: random
    // corruptions of VALID containers exercise the deep paths (IFD,
    // strip decompress, predictor, chunk walk) — None, never throw
    val lzwValid = MultimodalOps.encodeTiffRaster(5, 3, 2, "i16",
      Array.tabulate(30)(i => (i * 211 % 1000 - 500).toDouble),
      lzw = true, predictor = true)
    val wavValid = graft.sources.WavCodec.encode(8000, 2,
      Array.tabulate(16)(i => i * 1000 - 8000))
    (1 to 500).foreach { _ =>
      val soup = Array.fill(rnd.nextInt(96))(rnd.nextInt(256).toByte)
      MultimodalOps.decodeTiffRaster(soup)
      graft.sources.WavCodec.decode(soup)
      MultimodalOps.lzwDecode(soup, 0, soup.length, 64)
      graft.sources.Compression.inflate(soup, 0, soup.length, 64)
      val ct = lzwValid.clone()
      (1 to 4).foreach(_ => ct(rnd.nextInt(ct.length)) = rnd.nextInt(256).toByte)
      MultimodalOps.decodeTiffRaster(ct).foreach { r =>
        assert(r.values.length == r.width * r.height * r.bands)
      }
      val cw = wavValid.clone()
      (1 to 4).foreach(_ => cw(rnd.nextInt(cw.length)) = rnd.nextInt(256).toByte)
      graft.sources.WavCodec.decode(cw).foreach { w =>
        assert(w.samples.length % w.channels == 0)
      }
    }
  }

  test("mediaFromDocuments yields binary payload with typed metadata") {
    import spark.implicits._
    val docs = Seq((7L, "hello", "en", "src1", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = MultimodalOps.mediaFromDocuments(docs).as[MediaRow].collect().head
    assert(m.kind == "audio") // 7 % 3 == 1
    assert(new String(m.payload, "UTF-8") == "hello")
    assert(m.meta.width == 6 && m.meta.nFrames == 4)
  }
}
