package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.MultimodalOps
import graft.queries.Exact._
import graft.sources.{GeoIngest, JpegCodec, PngCodec}

/** Multimodal-column surface: binary payloads + typed metadata
  * (BASELINE.json mandate). The features query runs through the real
  * `mapPartitions` decode path — the oracle recomputes the same fake
  * kernel arithmetic from the ASCII text, proving the batched decode
  * plumbing end-to-end.
  */
object MultimodalQueries {

  /** Manifest: per media kind, item count + payload byte totals —
    * the metadata-only query a 100 TB media lake answers without
    * touching payloads (parquet column pruning skips the binary
    * column entirely). */
  def qMediaManifest(spark: SparkSession, dir: String): DataFrame = {
    MultimodalOps.mediaFromDocuments(Tables.documents(spark, dir))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("payload"))).as("total_bytes"),
        qmean(length(col("payload")).cast("double")).as("avg_bytes"),
        max(col("meta.width")).as("max_width"))
  }

  val qMediaManifestSql: String =
    s"""SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
       |            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       |  COUNT(*) AS n,
       |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       |  ${qmeanSql("CAST(octet_length(encode(text)) AS DOUBLE)")} AS avg_bytes,
       |  MAX(CAST(length(text) % 64 + 1 AS INT)) AS max_width
       |FROM documents""".stripMargin + "\nGROUP BY 1"

  /** Features via the batched mapPartitions decode kernel
    * (MultimodalOps.decodeFeatures): byte stats + rolling checksum per
    * media item. The oracle recomputes the kernel from the text's
    * character codes (payloads are ASCII here, so byte == code). */
  def qMediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = MultimodalOps
      .mediaFromDocuments(Tables.documents(spark, dir))
      .as[MultimodalOps.MediaRow]
    MultimodalOps.decodeFeatures(media).toDF()
  }

  val qMediaFeaturesSql: String =
    """SELECT doc_id AS media_id,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  length(text) AS n_bytes,
      |  CAST(list_sum(codes) AS DOUBLE) / length(text) AS byte_mean,
      |  CAST(list_min(codes) AS INT) AS byte_min,
      |  CAST(list_max(codes) AS INT) AS byte_max,
      |  list_reduce(list_transform(codes, c -> CAST(c AS BIGINT)),
      |              (a, c) -> (a * 31 + c) % 72057594037927931) AS checksum
      |FROM (
      |  SELECT doc_id, text,
      |    list_transform(range(length(text)), i -> ascii(substr(text, i+1, 1))) AS codes
      |  FROM documents)""".stripMargin

  /** Frame sampling (video path): every 2nd of the 4 payload frames,
    * through the real 1-row→N-rows mapPartitions generator — the
    * oracle recomputes the chunk arithmetic from the ASCII text, so
    * the hash pins chunk bounds, stride semantics, and the
    * empty-tail-frame edge case. */
  def qFrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = MultimodalOps
      .mediaFromDocuments(Tables.documents(spark, dir))
      .as[MultimodalOps.MediaRow]
    MultimodalOps.sampleFrames(media, stride = 2).toDF()
  }

  val qFrameSampleSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id, text, length(text) AS len,
      |    GREATEST(length(text) // 4, 1) AS sz
      |  FROM documents),
      |f AS (SELECT media_id, unnest([0, 2]) AS frame_idx, text, len, sz FROM m),
      |b AS (
      |  SELECT media_id, frame_idx,
      |    GREATEST(LEAST((frame_idx + 1) * sz, len) - frame_idx * sz, 0) AS nb,
      |    frame_idx * sz AS off, text
      |  FROM f)
      |SELECT media_id, frame_idx, CAST(nb AS INT) AS frame_bytes,
      |  CAST(COALESCE(list_sum(list_transform(range(nb),
      |    i -> CAST(ascii(substr(text, off + i + 1, 1)) AS BIGINT))), 0) AS BIGINT) AS frame_sum
      |FROM b""".stripMargin

  /** Resize (stride-subsample, the reference's SAMPLE_EVERY pixel
    * subsample) composed with decode: features of every 10th payload
    * byte — pins the resize arithmetic end-to-end through the
    * batched decode. */
  def qResizeFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = MultimodalOps
      .mediaFromDocuments(Tables.documents(spark, dir))
      .as[MultimodalOps.MediaRow]
    MultimodalOps.decodeFeatures(MultimodalOps.resize(media, stride = 10)).toDF()
  }

  val qResizeFeaturesSql: String =
    """SELECT doc_id AS media_id,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  CAST(len(codes) AS INT) AS n_bytes,
      |  CAST(list_sum(codes) AS DOUBLE) / len(codes) AS byte_mean,
      |  CAST(list_min(codes) AS INT) AS byte_min,
      |  CAST(list_max(codes) AS INT) AS byte_max,
      |  list_reduce(list_transform(codes, c -> CAST(c AS BIGINT)),
      |              (a, c) -> (a * 31 + c) % 72057594037927931) AS checksum
      |FROM (
      |  SELECT doc_id,
      |    list_transform(range((length(text) + 9) // 10),
      |      i -> ascii(substr(text, i * 10 + 1, 1))) AS codes
      |  FROM documents)""".stripMargin

  /** TRUE pixel decode, graded: payloads here are real binary PPM
    * (P6) images ([[MultimodalOps.ppmFromDocuments]]), and the decode
    * kernel parses the header and extracts the raster samples
    * (MultimodalOps.decodePpm) — no byte-as-pixel fake anywhere on
    * this path. The oracle recomputes the expected features from the
    * raster's source characters, so the hash pins header parsing,
    * raster offsets, and sample extraction end-to-end. */
  def qImageDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = MultimodalOps
      .ppmFromDocuments(Tables.documents(spark, dir))
      .as[MultimodalOps.MediaRow]
    MultimodalOps.decodeFeatures(media).toDF()
  }

  val qImageDecodeSql: String =
    """SELECT doc_id AS media_id, 'image' AS kind,
      |  CAST(len(codes) AS INT) AS n_bytes,
      |  CAST(list_sum(codes) AS DOUBLE) / len(codes) AS byte_mean,
      |  CAST(list_min(codes) AS INT) AS byte_min,
      |  CAST(list_max(codes) AS INT) AS byte_max,
      |  list_reduce(list_transform(codes, c -> CAST(c AS BIGINT)),
      |              (a, c) -> (a * 31 + c) % 72057594037927931) AS checksum
      |FROM (
      |  SELECT doc_id,
      |    list_transform(range((length(text) // 3) * 3),
      |      i -> ascii(substr(text, i+1, 1))) AS codes
      |  FROM documents WHERE length(text) >= 3)""".stripMargin

  /** TRUE container decode for the reference's actual raster format
    * (rasterio's TIFF, process_data.py:64-66): payloads are real
    * little-endian baseline TIFFs ([[MultimodalOps.tiffFromDocuments]],
    * two strips each so the IFD's external offset arrays are
    * exercised), and the decode kernel parses header + IFD + strips
    * (MultimodalOps.decodeTiff). The oracle recomputes the expected
    * features from the raster's source characters, so the hash pins
    * the whole container walk end-to-end. */
  def qTiffDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = MultimodalOps
      .tiffFromDocuments(Tables.documents(spark, dir))
      .as[MultimodalOps.MediaRow]
    MultimodalOps.decodeFeatures(media).toDF()
  }

  val qTiffDecodeSql: String =
    """SELECT doc_id AS media_id, 'image' AS kind,
      |  CAST(len(codes) AS INT) AS n_bytes,
      |  CAST(list_sum(codes) AS DOUBLE) / len(codes) AS byte_mean,
      |  CAST(list_min(codes) AS INT) AS byte_min,
      |  CAST(list_max(codes) AS INT) AS byte_max,
      |  list_reduce(list_transform(codes, c -> CAST(c AS BIGINT)),
      |              (a, c) -> (a * 31 + c) % 72057594037927931) AS checksum
      |FROM (
      |  SELECT doc_id,
      |    list_transform(range((length(text) // 2) * 2),
      |      i -> ascii(substr(text, i+1, 1))) AS codes
      |  FROM documents WHERE length(text) >= 2)""".stripMargin

  /** Webdataset shard arithmetic, oracle-graded: every source's
    * documents encode into one ustar archive
    * ([[graft.sources.TarCodec]], the real container) and decode
    * straight back; the output pins record count, payload byte total,
    * AND the exact shard size — which the oracle recomputes from
    * first principles (512-byte header + data padded to 512 per
    * member + the 1024-byte trailer). An off-by-one anywhere in
    * header layout, padding, or trailer flips the hash. Distributed
    * shape: one group per source (the graded ARITHMETIC path; the
    * N-records-per-shard production sink is
    * [[graft.sources.Sinks.writeTarShards]]). */
  def qTarShards(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (src, it) =>
        val members = it.toSeq.sortBy(_._2).map { case (_, id, text) =>
          // ASCII invariant: the oracle's payload/shard arithmetic uses
          // length(text) (characters); these payloads are UTF-8 bytes.
          // Equal only for pure-ASCII corpora — fail loudly, not desync.
          require(text.forall(_ < 0x80),
            s"doc $id: non-ASCII text breaks the chars==bytes oracle invariant")
          graft.sources.TarCodec.Member(f"$id%012d.txt", text.getBytes("UTF-8"))
        }
        val shard = graft.sources.TarCodec.encode(members)
        val back = graft.sources.TarCodec.decode(shard)
          .getOrElse(throw new IllegalStateException(s"own shard undecodable: $src"))
        (src, back.size.toLong,
          back.map(_.data.length.toLong).sum, shard.length.toLong)
      }
      .toDF("source", "n_records", "payload_bytes", "shard_bytes")
  }

  val qTarShardsSql: String =
    """SELECT source, COUNT(*) AS n_records,
      |  CAST(SUM(length(text)) AS BIGINT) AS payload_bytes,
      |  CAST(SUM(512 + CEIL(length(text) / 512.0) * 512) + 1024 AS BIGINT)
      |    AS shard_bytes
      |FROM documents GROUP BY source""".stripMargin

  /** npy container round-trip, oracle-graded per vector: each
    * embedding encodes as a real v1.0 `.npy` ([[graft.sources
    * .NpyCodec.encodeF4]], byte-identical to np.save) and decodes
    * back; the output pins the container size (10-byte prologue +
    * 118-byte padded header + 4 bytes per f4 element) and a
    * floor-quantized sum of the DECODED values — f4→double widening
    * is exact, so the oracle recomputes the same sum from the raw
    * embedding column and any lossy step in encode/decode flips the
    * hash. */
  def qNpyRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .map { case (id, emb) =>
        val enc = graft.sources.NpyCodec.encodeF4(emb.length, 0, emb.toArray)
        val dec = graft.sources.NpyCodec.decode(enc)
          .getOrElse(throw new IllegalStateException(s"own npy undecodable: $id"))
        val qsum = dec.values.map(v => math.floor(v * 1e6).toLong).sum
        (id, enc.length, qsum)
      }
      .toDF("vec_id", "npy_bytes", "qsum")
  }

  /** Compressed/typed TIFF round-trip, oracle-graded per document —
    * the widened envelope the reference's rasters actually use
    * (LZW variant; srtm.tif itself is deflate/tiled/planar, graded
    * by TiffRasterSpec against pinned stats): each document becomes a
    * 2-band int16 raster (band 0 = character codes − 100, band 1 = a
    * position ramp), encoded executor-side as a REAL
    * LZW-compressed predictor-2 TIFF ([[MultimodalOps
    * .encodeTiffRaster]]) and decoded straight back
    * ([[MultimodalOps.decodeTiffRaster]]); the output pins dims,
    * band count, and both band sums, which the oracle recomputes
    * from the text alone. Any error in LZW bit packing, the
    * early-change boundary, predictor reversal, int16 signedness, or
    * strip arithmetic flips the hash. Pure per-document fan-out, no
    * shuffle. */
  def qTiffLzw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .filter(_._2.length >= 2)
      .map { case (id, text) =>
        require(text.forall(_ < 0x80),
          s"doc $id: non-ASCII text breaks the chars==bytes oracle invariant")
        val w = text.length / 2
        val n = 2 * w
        val vals = new Array[Double](n * 2)
        var p = 0
        while (p < n) {
          vals(2 * p) = text.charAt(p).toInt - 100
          vals(2 * p + 1) = (p * 13) % 255 - 127
          p += 1
        }
        val enc = MultimodalOps.encodeTiffRaster(w, 2, 2, "i16", vals,
          lzw = true, predictor = true)
        val dec = MultimodalOps.decodeTiffRaster(enc)
          .getOrElse(throw new IllegalStateException(s"own tiff undecodable: $id"))
        var b0 = 0L; var b1 = 0L
        var i = 0
        while (i < dec.values.length) {
          if (i % 2 == 0) b0 += dec.values(i).toLong else b1 += dec.values(i).toLong
          i += 1
        }
        (id, dec.width, dec.height, dec.bands, b0, b1)
      }
      .toDF("doc_id", "width", "height", "bands", "b0_sum", "b1_sum")
  }

  /** Same graded round trip through the DEFLATE arm (Compression=8 —
    * the codec the reference's own srtm rasters use): identical
    * text-derived oracle, different container encoding, so the zlib
    * deflate/inflate pair is graded end-to-end alongside LZW. */
  def qTiffDeflate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .filter(_._2.length >= 2)
      .map { case (id, text) =>
        require(text.forall(_ < 0x80),
          s"doc $id: non-ASCII text breaks the chars==bytes oracle invariant")
        val w = text.length / 2
        val n = 2 * w
        val vals = new Array[Double](n * 2)
        var p = 0
        while (p < n) {
          vals(2 * p) = text.charAt(p).toInt - 100
          vals(2 * p + 1) = (p * 13) % 255 - 127
          p += 1
        }
        val enc = MultimodalOps.encodeTiffRaster(w, 2, 2, "i16", vals,
          lzw = false, predictor = true, deflate = true)
        val dec = MultimodalOps.decodeTiffRaster(enc)
          .getOrElse(throw new IllegalStateException(s"own tiff undecodable: $id"))
        var b0 = 0L; var b1 = 0L
        var i = 0
        while (i < dec.values.length) {
          if (i % 2 == 0) b0 += dec.values(i).toLong else b1 += dec.values(i).toLong
          i += 1
        }
        (id, dec.width, dec.height, dec.bands, b0, b1)
      }
      .toDF("doc_id", "width", "height", "bands", "b0_sum", "b1_sum")
  }

  val qTiffLzwSql: String =
    """SELECT doc_id,
      |  CAST(length(text) // 2 AS INT) AS width, 2 AS height, 2 AS bands,
      |  CAST(list_sum(list_transform(range(1, 2 * (length(text) // 2) + 1),
      |    i -> ascii(substr(text, CAST(i AS INT), 1)) - 100)) AS BIGINT) AS b0_sum,
      |  CAST(list_sum(list_transform(range(0, 2 * (length(text) // 2)),
      |    i -> ((i * 13) % 255) - 127)) AS BIGINT) AS b1_sum
      |FROM documents WHERE length(text) >= 2""".stripMargin

  /** Audio container round-trip + feature extraction, oracle-graded
    * per document — the WAV member of the multimodal family: each
    * document synthesizes a mono 16-bit PCM clip (sample i =
    * (charcode_i − 100) × 173 at 8 kHz), encodes as a REAL RIFF/WAVE
    * container ([[graft.sources.WavCodec.encode]], byte-identical to
    * Python `wave`), decodes straight back, and emits audio features
    * over the DECODED samples: container size (44-byte canonical
    * header + 2 bytes/sample — an off-by-one in header layout flips
    * the hash), duration, RMS (integer square-sum then one IEEE
    * divide + sqrt, bit-exact cross-engine), and strict
    * sign-alternation zero crossings. The oracle recomputes all four
    * from the text. Pure per-document fan-out, no shuffle. */
  def qWavFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .filter(_._2.nonEmpty)
      .map { case (id, text) =>
        require(text.forall(_ < 0x80),
          s"doc $id: non-ASCII text breaks the chars==bytes oracle invariant")
        val samples = text.toCharArray.map(c => (c.toInt - 100) * 173)
        val enc = graft.sources.WavCodec.encode(8000, 1, samples)
        val dec = graft.sources.WavCodec.decode(enc)
          .getOrElse(throw new IllegalStateException(s"own wav undecodable: $id"))
        val n = dec.samples.length
        var sq = 0L
        var zc = 0L
        var i = 0
        while (i < n) {
          val s = dec.samples(i).toLong
          sq += s * s
          if (i > 0 && s * dec.samples(i - 1) < 0) zc += 1
          i += 1
        }
        (id, enc.length.toLong, n.toDouble / 8000.0, math.sqrt(sq.toDouble / n), zc)
      }
      .toDF("doc_id", "wav_bytes", "duration_s", "rms", "zero_crossings")
  }

  val qWavFeaturesSql: String =
    """WITH s AS (
      |  SELECT doc_id, length(text) AS n,
      |    list_transform(range(1, length(text) + 1),
      |      i -> (ascii(substr(text, CAST(i AS INT), 1)) - 100) * 173) AS smp
      |  FROM documents WHERE length(text) >= 1)
      |SELECT doc_id,
      |  CAST(44 + 2 * n AS BIGINT) AS wav_bytes,
      |  CAST(n AS DOUBLE) / 8e3 AS duration_s,
      |  sqrt(CAST(list_sum(list_transform(smp,
      |    v -> CAST(v AS BIGINT) * v)) AS DOUBLE) / n) AS rms,
      |  CAST(len(list_filter(range(1, n),
      |    i -> smp[CAST(i AS INT)] * smp[CAST(i AS INT) + 1] < 0)) AS BIGINT)
      |    AS zero_crossings
      |FROM s""".stripMargin

  val qNpyRoundtripSql: String =
    """SELECT vec_id, CAST(128 + 4 * len(embedding) AS INT) AS npy_bytes,
      |  CAST(list_sum(list_transform(embedding,
      |    v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))) AS BIGINT)
      |    AS qsum
      |FROM embeddings""".stripMargin

  /** Compressed JSONL shard round-trip, oracle-graded per source —
    * the `.jsonl.gz` ingestion path web-scale text corpora ship in
    * (the gzip analogue of [[qTarShards]]): each source's documents
    * serialize to JSON lines, the shard gzips via
    * [[graft.sources.GzipCodec.encode]] (real RFC 1952 members,
    * MTIME=0), decodes straight back (inflate + CRC-32 + ISIZE
    * verified), and the lines re-parse. The output pins the line
    * count, the exact UNCOMPRESSED payload size, and content sums —
    * all recomputed by the oracle from the documents table alone
    * (line = `{"doc_id":<id>,"text":"<text>"}` + newline ⇒
    * 22 + len(id) + len(text) bytes), so any fault in the JSON
    * framing, deflate round-trip, or trailer checks flips the hash.
    * Compressed size is NOT graded (codec-dependent) — only the
    * verified round-trip content is. Pure per-source fan-out. */
  def qJsonlGz(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (src, it) =>
        val docs = it.toSeq.sortBy(_._2)
        docs.foreach { case (_, id, text) =>
          // printable-ASCII invariant: the oracle counts characters and
          // assumes no JSON escaping — fail loudly on a corpus change
          require(text.forall(c => c >= 0x20 && c < 0x7f && c != '"' && c != '\\'),
            s"doc $id: text needs JSON escaping; oracle arithmetic breaks")
        }
        val payload = docs
          .map { case (_, id, text) => s"""{"doc_id":$id,"text":"$text"}""" }
          .mkString("", "\n", "\n").getBytes("UTF-8")
        val gz = graft.sources.GzipCodec.encode(s"$src.jsonl", payload)
        val back = graft.sources.GzipCodec.decode(gz)
          .getOrElse(throw new IllegalStateException(s"own shard undecodable: $src"))
        val lines = new String(back.data, "UTF-8").split('\n').filter(_.nonEmpty)
        val ids = lines.map(l => l.drop(10).takeWhile(_ != ',').toLong)
        (src, lines.length.toLong, back.data.length.toLong,
          ids.sum, lines.map(_.length.toLong).sum)
      }
      .toDF("source", "n_lines", "payload_bytes", "id_sum", "line_chars")
  }

  val qJsonlGzSql: String =
    """SELECT source, COUNT(*) AS n_lines,
      |  CAST(SUM(22 + length(CAST(doc_id AS VARCHAR)) + length(text)) AS BIGINT)
      |    AS payload_bytes,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
      |  CAST(SUM(21 + length(CAST(doc_id AS VARCHAR)) + length(text)) AS BIGINT)
      |    AS line_chars
      |FROM documents GROUP BY source""".stripMargin

  /** Georeferenced-GeoTIFF round-trip, oracle-graded: each document
    * becomes a single-band i16 LZW raster carrying REAL GeoTIFF
    * georeferencing tags — ModelPixelScale/ModelTiepoint doubles and
    * a GeoKey directory ([[MultimodalOps.encodeTiffRaster]] with
    * georef) — decoded back through BOTH kernels: pixels via
    * decodeTiffRaster (geo tags must not perturb the pixel walk) and
    * the affine via [[MultimodalOps.decodeTiffGeoref]]. The output
    * pins the EPSG code and the four edge pixel-CENTER coordinates
    * (the rasterio `transform.xy` convention the reference uses,
    * presto's per-pixel lon/lat meshgrid), which the oracle recomputes
    * from doc_id alone — scales are power-of-two rationals so every
    * coordinate is exact-binary on both engines. Any error in DOUBLE
    * tag encoding, tiepoint ordering, GeoKey layout, or the
    * half-pixel area convention flips the hash. Decode parity with
    * the reference's own GDAL tifs is pinned in TiffRasterSpec. */
  def qTiffGeoref(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .filter(_._2.length >= 2)
      .map { case (id, text) =>
        require(text.forall(_ < 0x80),
          s"doc $id: non-ASCII text breaks the chars==bytes oracle invariant")
        val w = text.length / 2
        val vals = new Array[Double](2 * w)
        var p = 0
        while (p < 2 * w) { vals(p) = text.charAt(p).toInt - 100; p += 1 }
        val g = MultimodalOps.TiffGeoref(
          scaleX = (id % 7 + 1) / 1024.0,
          scaleY = (id % 5 + 1) / 2048.0,
          tieCol = 0.0, tieRow = 0.0,
          tieX = (id % 360) - 180.0,
          tieY = 90.0 - (id % 180),
          epsg = 4326, pixelIsArea = true)
        val enc = MultimodalOps.encodeTiffRaster(w, 2, 1, "i16", vals,
          lzw = true, predictor = true, georef = Some(g))
        val dec = MultimodalOps.decodeTiffRaster(enc)
          .getOrElse(throw new IllegalStateException(s"own tiff undecodable: $id"))
        val gr = MultimodalOps.decodeTiffGeoref(enc)
          .getOrElse(throw new IllegalStateException(s"own georef undecodable: $id"))
        (id, gr.epsg, dec.width, dec.height,
          gr.pixelLon(0), gr.pixelLon(dec.width - 1),
          gr.pixelLat(0), gr.pixelLat(dec.height - 1),
          dec.values.map(_.toLong).sum)
      }
      .toDF("doc_id", "epsg", "width", "height",
        "lon_w", "lon_e", "lat_n", "lat_s", "b_sum")
  }

  val qTiffGeorefSql: String =
    """SELECT doc_id, 4326 AS epsg,
      |  CAST(length(text) // 2 AS INT) AS width, 2 AS height,
      |  (doc_id % 360) - 180 + 0.5 * ((doc_id % 7 + 1) / 1024.0) AS lon_w,
      |  (doc_id % 360) - 180
      |    + ((length(text) // 2) - 1 + 0.5) * ((doc_id % 7 + 1) / 1024.0) AS lon_e,
      |  90 - (doc_id % 180) - 0.5 * ((doc_id % 5 + 1) / 2048.0) AS lat_n,
      |  90 - (doc_id % 180) - 1.5 * ((doc_id % 5 + 1) / 2048.0) AS lat_s,
      |  CAST(list_sum(list_transform(range((length(text) // 2) * 2),
      |    i -> ascii(substr(text, i+1, 1)) - 100)) AS BIGINT) AS b_sum
      |FROM documents WHERE length(text) >= 2""".stripMargin

  /** PNG container round-trip, oracle-graded — the image format
    * web-scale multimodal corpora actually ship (PNG/JPEG members in
    * webdataset tars; the reference's own chips move as TIFF/npy,
    * graded above): each document's characters become an RGB image
    * (w = len/6 columns × 2 rows × 3 channels), encoded executor-side
    * as a REAL PNG ([[graft.sources.PngCodec]] — signature, CRC'd
    * chunks, zlib scanlines) and decoded straight back. The output
    * pins dims, the pixel sum, and a rolling checksum the oracle
    * recomputes from the text alone — any error in chunk layout, CRC
    * arithmetic, zlib framing, or filter reversal flips the hash.
    * (Filters 1-4 are exercised by PngCodecSpec's foreign-writer
    * goldens; the writer here emits filter-0 rows.) Pure per-document
    * fan-out, no shuffle. */
  def qPngDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .filter(_._2.length >= 6)
      .map { case (id, text) =>
        require(text.forall(_ < 0x80),
          s"doc $id: non-ASCII text breaks the chars==bytes oracle invariant")
        val w = text.length / 6
        val n = 6 * w
        val pix = new Array[Byte](n)
        var p = 0
        while (p < n) { pix(p) = text.charAt(p).toByte; p += 1 }
        val enc = PngCodec.encode(w, 2, 3, pix)
        val dec = PngCodec.decode(enc)
          .getOrElse(throw new IllegalStateException(s"own png undecodable: $id"))
        var sum = 0L; var ck = 0L
        var i = 0
        while (i < dec.pixels.length) {
          val v = dec.pixels(i) & 0xff
          sum += v
          ck = (ck * 31 + v) % 72057594037927931L
          i += 1
        }
        (id, dec.width, dec.height, dec.channels, sum, ck)
      }
      .toDF("doc_id", "width", "height", "channels", "px_sum", "checksum")
  }

  val qPngDecodeSql: String =
    """SELECT doc_id, CAST(length(text) // 6 AS INT) AS width, 2 AS height,
      |  3 AS channels,
      |  CAST(list_sum(codes) AS BIGINT) AS px_sum,
      |  list_reduce(list_transform(codes, c -> CAST(c AS BIGINT)),
      |              (a, c) -> (a * 31 + c) % 72057594037927931) AS checksum
      |FROM (
      |  SELECT doc_id, text,
      |    list_transform(range((length(text) // 6) * 6),
      |      i -> ascii(substr(text, i+1, 1))) AS codes
      |  FROM documents WHERE length(text) >= 6)""".stripMargin

  /** Baseline-JPEG decode, oracle-graded per PIXEL against committed
    * foreign fixtures: the four `.jpg` streams in
    * `tools/fixtures/q_jpeg_decode/` were written by the independent
    * from-scratch Python encoder in `tools/jpeg_golden.py` (own FDCT,
    * own canonical-Huffman coder), covering grayscale, RGB 4:4:4,
    * RGB 4:2:0 with odd dimensions, and 4:2:0 with DRI/RSTn restart
    * markers. [[graft.sources.JpegCodec]] decodes them via the shared
    * integer spec (fixed-point IDCT / replicate upsample / fixed-point
    * YCbCr→RGB) and the oracle reads the expected pixels the Python
    * decoder produced — every Huffman bit, dequantize, IDCT rounding,
    * upsample index, and color constant must agree or the hash flips.
    * Distributed shape: binaryFile scan → per-file decode fan-out →
    * per-pixel explode; no shuffle (grayscale replicates to r=g=b,
    * matching the golden's convention).
    *
    * Note the scan reads the COMMITTED repo fixtures, so the query
    * takes no sf directory: the inputs are pinned goldens, same on
    * every SF (the single-node harness shares one filesystem; a
    * cluster deployment would stage `tools/fixtures/` to shared
    * storage). */
  def qJpegDecode(spark: SparkSession): DataFrame =
    jpegPixels(spark, graft.Fixtures.path("q_jpeg_decode"))

  /** Progressive (SOF2) JPEG decode, oracle-graded per pixel — the
    * same discipline as [[qJpegDecode]] over the five committed
    * progressive fixtures written by the independent Python
    * progressive encoder (`tools/jpeg_progressive_golden.py`:
    * spectral selection + successive approximation in the libjpeg
    * standard-script shape, per-scan Huffman tables, real EOB runs,
    * restart markers; coefficient-roundtrip-verified there by an
    * independent Python progressive decoder). The golden pixels are
    * the shared-integer-spec decode of the baseline sibling carrying
    * identical quantized coefficients, so every scan-assembly step in
    * [[graft.sources.JpegCodec]]'s SOF2 path — DC holdback bits, AC
    * band merge, EOB-run bookkeeping, refinement correction bits,
    * restart resets — must be exact or the hash flips. Progressive is
    * the dominant web-image coding, so this closes the biggest
    * real-corpus coverage gap a LAION-style crawl would hit. */
  def qJpegProgressive(spark: SparkSession): DataFrame =
    jpegPixels(spark, graft.Fixtures.path("q_jpeg_progressive"))

  /** Arithmetic-coded JPEG decode (SOF9 sequential + SOF10 progressive,
    * T.81 processes 3 and 6), oracle-graded per pixel — the same
    * discipline as [[qJpegDecode]] over the nine committed fixtures
    * ENCODED BY LIBJPEG ITSELF (`tools/jpeg_arith_ref.c` +
    * `tools/jpeg_arith_golden.py`): libjpeg-turbo is the de-facto
    * reference implementation of T.81 arithmetic coding, and the
    * golden pixels derive from its own coefficient decode
    * (jpeg_read_coefficients) pushed through the shared integer spec.
    * Every QM-coder decision in [[graft.sources.JpegCodec]]'s
    * arithmetic paths — Qe state transitions, conditional exchange,
    * 0xFF00 unstuffing, DAC L/U/Kx conditioning, RSTn re-init with
    * statistics reset, progressive DC/AC first and refinement models —
    * must invert libjpeg's encoder exactly or the hash flips. With
    * this, the codec covers every non-differential 8-bit T.81 process;
    * arithmetic JPEG is rare in web corpora (~1%) but standard in
    * DICOM-adjacent pipelines. */
  def qJpegArith(spark: SparkSession): DataFrame =
    jpegPixels(spark, graft.Fixtures.path("q_jpeg_arith"))

  private def jpegPixels(spark: SparkSession, fixtureDir: String): DataFrame =
    GeoIngest.Format(GeoIngest.exif.glob, // the .jpg files
      GeoIngest.decodeFiles(_, "name", "y", "x", "r", "g", "b") { (file, bytes) =>
        val name = file.stripSuffix(".jpg")
        val img = JpegCodec.decode(bytes)
          .getOrElse(throw new IllegalStateException(s"fixture undecodable: $name"))
        val out = new Array[(String, Int, Int, Int, Int, Int)](img.width * img.height)
        var y = 0
        while (y < img.height) {
          var x = 0
          while (x < img.width) {
            val i = y * img.width + x
            val (r, g, b): (Int, Int, Int) =
              if (img.channels == 1) {
                val v = img.pixels(i) & 0xff; (v, v, v)
              } else
                (img.pixels(i * 3) & 0xff, img.pixels(i * 3 + 1) & 0xff,
                  img.pixels(i * 3 + 2) & 0xff)
            out(i) = (name, y, x, r, g, b)
            x += 1
          }
          y += 1
        }
        out.iterator
      }).read(spark, fixtureDir)

  /** Lossless (SOF3, T.81 process 14) JPEG decode, oracle-graded per
    * SAMPLE against committed foreign fixtures: the seven `.jpg`
    * streams in `tools/fixtures/q_jpeg_lossless/` were written by the
    * independent from-scratch Python lossless encoder in
    * `tools/jpeg_lossless_golden.py` (own predictor chain, own
    * canonical-Huffman difference coder, mod-2^16 arithmetic,
    * row-aligned restarts), covering every predictor 1..7, 8/12/16-bit
    * precision, a nonzero point transform, a 3-component interleaved
    * frame, and DRI/RSTn. Because the process is lossless, the golden
    * is simply the point-transformed source samples — the decode
    * matches only if every prediction, extend, and restart decision in
    * [[graft.sources.JpegCodec.decodeLossless]] inverts the encoder
    * exactly. This is the DICOM/scientific-imagery shape (12/16-bit
    * grayscale) that the DCT entry refuses. Distributed shape:
    * binaryFile scan → per-file decode fan-out → per-sample explode;
    * no shuffle. */
  def qJpegLossless(spark: SparkSession): DataFrame =
    jpegSamples(spark, "q_jpeg_lossless")(
      JpegCodec.decodeLossless(_).map(i => (i.width, i.height, i.channels, i.samples)))

  /** Per-sample rows (name, y, x, c, v) of the committed `.jpg`
    * fixtures under `fixture`; `decode` gives (width, height,
    * channels, row-major channel-interleaved samples). A pinned
    * fixture must decode, so an undecodable one throws rather than
    * skip. */
  private def jpegSamples(spark: SparkSession, fixture: String)(
      decode: Array[Byte] => Option[(Int, Int, Int, Array[Int])]): DataFrame =
    GeoIngest.Format(GeoIngest.exif.glob, // the .jpg files
      GeoIngest.decodeFiles(_, "name", "y", "x", "c", "v") { (file, bytes) =>
        val name = file.stripSuffix(".jpg")
        val (width, height, channels, samples) = decode(bytes)
          .getOrElse(throw new IllegalStateException(s"fixture undecodable: $name"))
        val out = new Array[(String, Int, Int, Int, Int)](width * height * channels)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            var c = 0
            while (c < channels) {
              val i = (y * width + x) * channels + c
              out(i) = (name, y, x, c, samples(i))
              c += 1
            }
            x += 1
          }
          y += 1
        }
        out.iterator
      }).read(spark, graft.Fixtures.path(fixture))

  /** 12-bit extended-sequential (SOF1, T.81 process 2) JPEG decode,
    * oracle-graded per SAMPLE — the same discipline as
    * [[qJpegLossless]] over the four committed 12-bit fixtures written
    * by the independent Python encoder in `tools/jpeg12_golden.py`
    * (level shift 2048, 16-bit Pq=1 quantization tables, the wider
    * DC 0..15 / AC 1..14 categories, 4:4:4 and 4:2:0 subsampling,
    * restart markers). The golden samples are the independent Python
    * decoder's shared-integer-spec reconstruction, so every Huffman
    * bit, dequantize, IDCT rounding at the 2048 level shift, 12-bit
    * clamp, upsample index, and chroma-centered color constant in
    * [[graft.sources.JpegCodec.decode12]] must agree or the hash
    * flips. Completes the DICOM JPEG story next to [[qJpegLossless]]
    * (process 14). */
  def qJpeg12(spark: SparkSession): DataFrame =
    jpegSamples(spark, "q_jpeg12")(
      JpegCodec.decode12(_).map(i => (i.width, i.height, i.channels, i.samples)))

  val qJpeg12Sql: String =
    s"""SELECT name, y, x, c, v
      |FROM read_parquet('${graft.Fixtures.base}/q_jpeg12/golden/*.parquet')""".stripMargin

  val qJpegLosslessSql: String =
    s"""SELECT name, y, x, c, v
      |FROM read_parquet('${graft.Fixtures.base}/q_jpeg_lossless/golden/*.parquet')""".stripMargin

  val qJpegDecodeSql: String =
    s"""SELECT name, y, x, r, g, b
      |FROM read_parquet('${graft.Fixtures.base}/q_jpeg_decode/golden/*.parquet')""".stripMargin

  val qJpegProgressiveSql: String =
    s"""SELECT name, y, x, r, g, b
      |FROM read_parquet('${graft.Fixtures.base}/q_jpeg_progressive/golden/*.parquet')""".stripMargin

  val qJpegArithSql: String =
    s"""SELECT name, y, x, r, g, b
      |FROM read_parquet('${graft.Fixtures.base}/q_jpeg_arith/golden/*.parquet')""".stripMargin

  /** NetCDF classic (CDF-1) container round-trip, oracle-graded — the
    * reference's prediction sink is `ds.to_netcdf` per test instance,
    * later recombined (cropharvest_eval.py:213-218). Each source's
    * documents become one REAL `.nc` dataset ([[graft.sources
    * .NetcdfCodec]], byte-pinned in NetcdfCodecSpec against an
    * independent Python CDF-1 writer): instance-dim int vars + a
    * double score var + a char id var, encoded then decoded straight
    * back. The output pins the decoded sums AND the exact container
    * size, which the oracle recomputes from first principles
    * (8-byte magic/numrecs + dim/var list layout = 220 fixed header
    * bytes for this schema + 16 bytes per instance + the 4-padded
    * char var) — any drift in name padding, vsize rounding, or begin
    * offsets flips the hash. Distributed shape: one group per source
    * (executor-side encode/decode, no driver I/O). */
  def qNetcdfRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.NetcdfCodec
    import graft.sources.NetcdfCodec._
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), length(col("text")).cast("int").as("tl"))
      .as[(String, Long, Int)]
      .groupByKey(_._1)
      .mapGroups { (src, it) =>
        val rows = it.toArray.sortBy(_._2)
        val n = rows.length
        val ids = rows.map { r =>
          require(r._2 <= Int.MaxValue, s"doc_id ${r._2} exceeds NC_INT")
          r._2.toInt
        }
        // NC_CHAR elements are bytes; source names are ASCII in this
        // corpus so chars == bytes, but size the dim in bytes anyway
        val nc = Nc(
          dims = Seq(Dim("instance", n),
            Dim("srclen", src.getBytes("UTF-8").length)),
          gatts = Nil,
          vars = Seq(
            Variable("doc_id", Array(0), Nil, IntData(ids)),
            Variable("text_len", Array(0), Nil, IntData(rows.map(_._3))),
            // k * 0.25 sums are exact in double regardless of order
            Variable("score", Array(0), Nil, DoubleData(rows.map(_._3 * 0.25))),
            Variable("src", Array(1), Nil, CharData(src))))
        val bytes = NetcdfCodec.encode(nc)
        val back = NetcdfCodec.decode(bytes)
          .getOrElse(throw new IllegalStateException(s"own nc undecodable: $src"))
        val idSum = back.vars(0).data.asInstanceOf[IntData].v.map(_.toLong).sum
        val scoreSum = back.vars(2).data.asInstanceOf[DoubleData].v.sum
        (src, n.toLong, idSum, scoreSum, bytes.length.toLong)
      }
      .toDF("source", "n_records", "id_sum", "score_sum", "nc_bytes")
  }

  val qNetcdfRoundtripSql: String =
    """SELECT source, COUNT(*) AS n_records,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
      |  CAST(SUM(length(text)) AS DOUBLE) * 0.25 AS score_sum,
      |  CAST(220 + 16 * COUNT(*) + CEIL(length(source) / 4.0) * 4 AS BIGINT)
      |    AS nc_bytes
      |FROM documents GROUP BY source""".stripMargin

  /** HDF5 container read, oracle-graded per ELEMENT — the reference's
    * CropHarvest test instances are h5 files read dataset-by-dataset
    * (eval/cropharvest_extensions.py:323-377). The committed fixtures
    * in `tools/fixtures/q_hdf5_read/` were written by the independent
    * from-scratch Python HDF5 writer (tools/h5_golden.py — superblock
    * v0, v1 B-tree root group, contiguous storage, the layout h5py
    * emits by default); [[graft.sources.GeoIngest.h5]] scans
    * them distributed (one corrupt file injected — it must SKIP, so
    * its absence from the output is itself graded) and the oracle
    * reads the expected elements. f8/f4/i8/i4 datasets all covered;
    * f4 widening pinned via float32 round-trip on both sides. Like
    * [[qJpegDecode]], the scan reads the committed repo fixtures —
    * pinned goldens, same at every SF. */
  def qHdf5Read(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.h5
      .read(spark, graft.Fixtures.path("q_hdf5_read"))
      .select(col("file"), col("dataset"),
        posexplode(col("values")).as(Seq("idx", "value")))
      .select(col("file"), col("dataset"), col("idx").cast("int").as("idx"),
        col("value"))
  }

  val qHdf5ReadSql: String =
    s"""SELECT file, dataset, idx, value
      |FROM read_parquet('${graft.Fixtures.base}/q_hdf5_read/golden/*.parquet')""".stripMargin

  /** WARC crawl-archive extraction, oracle-graded per record — the
    * Common Crawl ingest every web-scale LLM corpus starts from
    * (C4/RefinedWeb/FineWeb are all `.warc.gz` descendants; the
    * reference's GCS-object ingest, monthly.py:738-749, is the same
    * bucket-of-shards idea in its EE-specific form). The committed
    * fixtures in `tools/fixtures/q_warc_extract/` were written by the
    * independent Python writer (tools/warc_golden.py — Python gzip
    * members, hand-built WARC/HTTP grammar): warcinfo / request /
    * response / metadata / revisit records; response bodies cover
    * identity, chunked, gzip, and chunked+gzip encodings, plus one
    * undecodable (brotli) payload that must keep its record with a
    * NULL http_status (per-record degrade) and two structurally
    * corrupt archives whose ABSENCE from the output is itself graded
    * (per-file skip). [[graft.sources.GeoIngest.warc]] scans
    * them distributed; the oracle reads the expected rows (payload
    * md5 computed by Python hashlib, never by Spark). */
  def qWarcExtract(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.warc
      .read(spark, graft.Fixtures.path("q_warc_extract"))
      .select(col("file"), col("rec_idx"), col("warc_type"),
        col("target_uri"), col("http_status"), col("mime"),
        length(col("payload")).as("payload_len"),
        md5(col("payload")).as("payload_md5"))
  }

  val qWarcExtractSql: String =
    s"""SELECT file, rec_idx, warc_type, target_uri, http_status, mime,
      |  payload_len, payload_md5
      |FROM read_parquet('${graft.Fixtures.base}/q_warc_extract/golden/*.parquet')""".stripMargin

  /** WET extracted-text extraction, oracle-graded per page — Common
    * Crawl's second deliverable (`*.warc.wet.gz`), the corpus shape
    * C4/FineWeb-style pipelines actually start from (anchor: the
    * reference's corpus-ingest role, dataops/dataset.py:258-278).
    * Fixtures written by the extended independent Python writer
    * (tools/warc_golden.py `make_wet`): compressed + uncompressed WET
    * files with multi-line, BMP-unicode, and EMPTY extractions, plus
    * one structurally corrupt archive whose absence is graded
    * (per-file skip). Text length is counted in CHARACTERS after the
    * UTF-8 decode (Python len agrees on BMP-only text), lines by
    * embedded `\n` count, and the md5 over the re-encoded bytes
    * (identity for valid UTF-8) — all golden values computed by
    * Python len/count/hashlib, never by Spark. */
  def qWetExtract(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.wet
      .read(spark, graft.Fixtures.path("q_wet_extract"))
      .select(col("file"), col("rec_idx"), col("target_uri"), col("mime"),
        length(col("text")).as("text_chars"),
        (length(col("text")) -
          length(replace(col("text"), lit("\n"), lit("")))).as("n_lines"),
        md5(encode(col("text"), "UTF-8")).as("text_md5"))
  }

  val qWetExtractSql: String =
    s"""SELECT file, rec_idx, target_uri, mime, text_chars, n_lines, text_md5
      |FROM read_parquet('${graft.Fixtures.base}/q_wet_extract/golden/*.parquet')""".stripMargin

  /** WAT metadata extraction, oracle-graded per record — Common
    * Crawl's third deliverable (`*.warc.wat.gz`): a JSON envelope per
    * crawled record carrying the response status, headers, page
    * title, and outgoing link list (the crawl-graph source most
    * analytics read instead of raw WARC). Fixtures written by
    * tools/warc_golden.py `make_wat`: HTML pages with titles + link
    * arrays (incl. an EMPTY list — 0, distinct from the non-HTML
    * NULL), a non-HTML response, a request-record envelope with no
    * HTTP-Response-Metadata, a unicode title, and a corrupt archive
    * whose absence is graded. Extraction is declarative
    * `get_json_object` / `json_array_length` over the envelope (the
    * q_json_extract machinery — codegen'd, no UDFs); golden values
    * computed by Python's json module. */
  def qWatExtract(spark: SparkSession): DataFrame = {
    val hrm = "$.Envelope['Payload-Metadata']['HTTP-Response-Metadata']"
    graft.sources.GeoIngest.wat
      .read(spark, graft.Fixtures.path("q_wat_extract"))
      .select(col("file"), col("rec_idx"), col("target_uri"),
        get_json_object(col("json"),
          "$.Envelope['WARC-Header-Metadata']['WARC-Type']").as("src_type"),
        get_json_object(col("json"), s"$hrm['Response-Message']['Status']")
          .cast("int").as("http_status"),
        get_json_object(col("json"), s"$hrm['Headers']['Content-Type']")
          .as("content_type"),
        get_json_object(col("json"), s"$hrm['HTML-Metadata']['Head']['Title']")
          .as("title"),
        expr("json_array_length(get_json_object(json, " +
          s""""$hrm['HTML-Metadata']['Links']"))""").cast("int").as("n_links"))
  }

  val qWatExtractSql: String =
    s"""SELECT file, rec_idx, target_uri, src_type, http_status,
      |  content_type, title, n_links
      |FROM read_parquet('${graft.Fixtures.base}/q_wat_extract/golden/*.parquet')""".stripMargin

  /** Zstd JSONL shard scan, oracle-graded per line — the `.jsonl.zst`
    * wire format modern text corpora ship in (RedPajama/Dolma/
    * FineWeb), the zstd sibling of [[qJsonlGz]]. Fixtures written by
    * pyarrow's zstd codec (real libzstd, tools/warc_golden.py):
    * single-frame, multi-frame-with-skippable-between (the `cat
    * a.zst b.zst` / frame-per-block layouts), leading-skippable, and
    * one truncated shard that must skip whole. Line JSON is parsed
    * with the native `get_json_object` expression (no UDF); the
    * oracle reads rows computed by Python json+hashlib. */
  def qJsonlZst(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.jsonlZst
      .read(spark, graft.Fixtures.path("q_jsonl_zst"))
      .select(col("shard"), col("line_idx"),
        get_json_object(col("line"), "$.doc_id").cast("long").as("doc_id"),
        get_json_object(col("line"), "$.lang").as("lang"),
        length(get_json_object(col("line"), "$.text")).as("text_len"),
        md5(get_json_object(col("line"), "$.text")).as("text_md5"))
  }

  val qJsonlZstSql: String =
    s"""SELECT shard, line_idx, doc_id, lang, text_len, text_md5
      |FROM read_parquet('${graft.Fixtures.base}/q_jsonl_zst/golden/*.parquet')""".stripMargin

  /** bzip2-compressed JSONL shard scan, oracle-graded per line — the
    * delivery shape of Wikipedia dumps and pushshift archives, the
    * bzip2 sibling of q_jsonl_gz/q_jsonl_zst. Fixtures in
    * `tools/fixtures/q_jsonl_bz2/` were written by Python's stdlib
    * bz2 (real libbzip2, tools/bz2_golden.py): a single stream, TWO
    * concatenated streams at different block sizes (the pbzip2
    * shape), a unicode shard, plus a truncated stream and a
    * trailing-garbage shard whose ABSENCE is graded (whole-file
    * skip). Decoded by [[graft.sources.Bz2Codec]] — the platform
    * block decode behind this engine's framing/refusal contract. */
  def qJsonlBz2(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.jsonlBz2
      .read(spark, graft.Fixtures.path("q_jsonl_bz2"))
      .select(col("shard"), col("line_idx"),
        get_json_object(col("line"), "$.doc_id").cast("long").as("doc_id"),
        get_json_object(col("line"), "$.lang").as("lang"),
        length(get_json_object(col("line"), "$.text")).as("text_len"),
        md5(get_json_object(col("line"), "$.text")).as("text_md5"))
  }

  val qJsonlBz2Sql: String =
    s"""SELECT shard, line_idx, doc_id, lang, text_len, text_md5
      |FROM read_parquet('${graft.Fixtures.base}/q_jsonl_bz2/golden/*.parquet')""".stripMargin

  /** Webdataset shard round-trip, oracle-graded — the LAION-style
    * layout web-scale multimodal training actually uses: ONE tar shard
    * per source whose members are per-sample PAIRS (`{id}.txt` caption
    * + `{id}.png` image, grouped by basename — the webdataset
    * convention). Composes two real containers end-to-end: each doc's
    * characters render to an RGB PNG ([[graft.sources.PngCodec]]),
    * both members pack into a ustar archive ([[graft.sources
    * .TarCodec]]), the shard decodes back, members re-pair by
    * basename, and the PNGs decode to pixels. The output pins member
    * counts, caption payload bytes, and per-doc pixel sum + rolling
    * checksum summed per source — all recomputed by the oracle from
    * the text alone, so an error in EITHER container layer or the
    * pairing flips the hash. Distributed shape: one group per source,
    * executor-side encode/decode, no shuffle beyond the groupBy. */
  def qWebdataset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text"))
      .as[(String, Long, String)]
      .filter(_._3.length >= 6)
      .groupByKey(_._1)
      .mapGroups { (src, it) =>
        val docs = it.toSeq.sortBy(_._2)
        val members = docs.flatMap { case (_, id, text) =>
          require(text.forall(_ < 0x80),
            s"doc $id: non-ASCII text breaks the chars==bytes oracle invariant")
          val w = text.length / 6
          val pix = new Array[Byte](6 * w)
          var p = 0
          while (p < pix.length) { pix(p) = text.charAt(p).toByte; p += 1 }
          Seq(
            graft.sources.TarCodec.Member(f"$id%012d.txt", text.getBytes("UTF-8")),
            graft.sources.TarCodec.Member(f"$id%012d.png",
              PngCodec.encode(w, 2, 3, pix)))
        }
        val shard = graft.sources.TarCodec.encode(members)
        val back = graft.sources.TarCodec.decode(shard)
          .getOrElse(throw new IllegalStateException(s"own shard undecodable: $src"))
        // re-pair by basename, the webdataset grouping rule
        val bySample = back.groupBy(_.name.takeWhile(_ != '.'))
        var nTxt = 0L; var nPng = 0L; var txtBytes = 0L
        var pxSum = 0L; var ckSum = 0L
        bySample.toSeq.sortBy(_._1).foreach { case (_, ms) =>
          val txt = ms.find(_.name.endsWith(".txt"))
            .getOrElse(throw new IllegalStateException("unpaired sample: no txt"))
          val png = ms.find(_.name.endsWith(".png"))
            .getOrElse(throw new IllegalStateException("unpaired sample: no png"))
          nTxt += 1; nPng += 1
          txtBytes += txt.data.length
          val img = PngCodec.decode(png.data)
            .getOrElse(throw new IllegalStateException("member png undecodable"))
          var ck = 0L
          var i = 0
          while (i < img.pixels.length) {
            val v = img.pixels(i) & 0xff
            pxSum += v
            ck = (ck * 31 + v) % 72057594037927931L
            i += 1
          }
          ckSum += ck
        }
        (src, nTxt, nPng, txtBytes, pxSum, ckSum)
      }
      .toDF("source", "n_txt", "n_png", "txt_bytes", "px_sum", "ck_sum")
  }

  /** Webdataset shard round-trip with caption+JPEG pairs — the actual
    * LAION member layout (`{id}.txt` + `{id}.jpg`, reference
    * dataops/dataset.py:31,258-278); the PNG variant above is kept
    * deliberately as the lossless self-contained oracle. JPEG decode
    * is lossy, so per-pixel content can't be recomputed from text by
    * SQL; instead each sample's image is one of the TEN committed
    * foreign fixtures (five baseline + five progressive), selected by
    * `doc_id % 10` over the sorted fixture names, and the oracle
    * recomputes every per-pixel sum from the independent Python
    * goldens joined to `documents` by the same modulus — so the tar
    * packing, basename pairing, AND the full baseline+progressive
    * decode paths are all on the hash. The fixture bytes ride the
    * closure (ten small committed files — bounded control artifact,
    * not corpus data); shards build and decode executor-side, one per
    * source, no shuffle beyond the groupBy. */
  def qWebdatasetJpeg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fixtures: Seq[(String, Array[Byte])] =
      (listJpgs(graft.Fixtures.path("q_jpeg_decode")) ++
        listJpgs(graft.Fixtures.path("q_jpeg_progressive"))).sortBy(_._1)
    val nFix = fixtures.length
    require(nFix > 0, "no committed jpeg fixtures found")
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text"))
      .as[(String, Long, String)]
      .filter(_._3.length >= 6)
      .groupByKey(_._1)
      .mapGroups { (src, it) =>
        val docs = it.toSeq.sortBy(_._2)
        val members = docs.flatMap { case (_, id, text) =>
          Seq(
            graft.sources.TarCodec.Member(f"$id%012d.txt", text.getBytes("UTF-8")),
            graft.sources.TarCodec.Member(f"$id%012d.jpg",
              fixtures((id % nFix).toInt)._2))
        }
        val shard = graft.sources.TarCodec.encode(members)
        val back = graft.sources.TarCodec.decode(shard)
          .getOrElse(throw new IllegalStateException(s"own shard undecodable: $src"))
        val bySample = back.groupBy(_.name.takeWhile(_ != '.'))
        var nTxt = 0L; var nJpg = 0L; var txtBytes = 0L
        var pxSum = 0L; var nPx = 0L
        bySample.toSeq.sortBy(_._1).foreach { case (_, ms) =>
          val txt = ms.find(_.name.endsWith(".txt"))
            .getOrElse(throw new IllegalStateException("unpaired sample: no txt"))
          val jpg = ms.find(_.name.endsWith(".jpg"))
            .getOrElse(throw new IllegalStateException("unpaired sample: no jpg"))
          nTxt += 1; nJpg += 1
          txtBytes += txt.data.length
          val img = graft.sources.JpegCodec.decode(jpg.data)
            .getOrElse(throw new IllegalStateException("member jpg undecodable"))
          nPx += img.width.toLong * img.height
          var i = 0
          while (i < img.pixels.length) {
            val v = img.pixels(i) & 0xff
            // gray replicates to r=g=b, the golden-parquet convention
            pxSum += (if (img.channels == 1) 3L * v else v.toLong)
            i += 1
          }
        }
        (src, nTxt, nJpg, txtBytes, pxSum, nPx)
      }
      .toDF("source", "n_txt", "n_jpg", "txt_bytes", "px_sum", "n_px")
  }

  private def listJpgs(dirPath: String): Seq[(String, Array[Byte])] = {
    val d = new java.io.File(dirPath)
    Option(d.listFiles).getOrElse(Array.empty).toSeq
      .filter(_.getName.endsWith(".jpg"))
      .map(f => f.getName.stripSuffix(".jpg") ->
        java.nio.file.Files.readAllBytes(f.toPath))
  }

  /** Oracle: per-fixture pixel sums from the two committed golden
    * parquets, joined to `documents` by the same doc_id % N rule. */
  val qWebdatasetJpegSql: String =
    s"""WITH fx AS (
      |  SELECT name, ROW_NUMBER() OVER (ORDER BY name) - 1 AS fi,
      |    CAST(SUM(r + g + b) AS BIGINT) AS px, COUNT(*) AS npx
      |  FROM (
      |    SELECT * FROM read_parquet('${graft.Fixtures.base}/q_jpeg_decode/golden/*.parquet')
      |    UNION ALL
      |    SELECT * FROM read_parquet('${graft.Fixtures.base}/q_jpeg_progressive/golden/*.parquet'))
      |  GROUP BY name),
      |n AS (SELECT COUNT(*) AS nfix FROM fx)
      |SELECT d.source, COUNT(*) AS n_txt, COUNT(*) AS n_jpg,
      |  CAST(SUM(length(d.text)) AS BIGINT) AS txt_bytes,
      |  CAST(SUM(fx.px) AS BIGINT) AS px_sum,
      |  CAST(SUM(fx.npx) AS BIGINT) AS n_px
      |FROM documents d
      |JOIN fx ON fx.fi = d.doc_id % (SELECT nfix FROM n)
      |WHERE length(d.text) >= 6
      |GROUP BY d.source""".stripMargin

  val qWebdatasetSql: String =
    """SELECT source, COUNT(*) AS n_txt, COUNT(*) AS n_png,
      |  CAST(SUM(length(text)) AS BIGINT) AS txt_bytes,
      |  CAST(SUM(px) AS BIGINT) AS px_sum,
      |  CAST(SUM(ck) AS BIGINT) AS ck_sum
      |FROM (
      |  SELECT source, text,
      |    list_sum(codes) AS px,
      |    list_reduce(list_transform(codes, c -> CAST(c AS BIGINT)),
      |                (a, c) -> (a * 31 + c) % 72057594037927931) AS ck
      |  FROM (
      |    SELECT source, text,
      |      list_transform(range((length(text) // 6) * 6),
      |        i -> ascii(substr(text, i+1, 1))) AS codes
      |    FROM documents WHERE length(text) >= 6))
      |GROUP BY source""".stripMargin

  /** TFRecord + `tf.train.Example` shard scan, oracle-graded per
    * feature ELEMENT — the classic training-example wire format
    * (TensorFlow shards; T5/C4 shipped this way), the protobuf
    * sibling of the webdataset tar layout. The reference materializes
    * examples as npy/h5 artifacts (dataops/dataset.py); TFRecord is
    * the same examples-in-shards idea as TF-era pipelines ship it.
    * Fixtures in `tools/fixtures/q_tfrecord_read/` were written by the
    * independent Python writer (tools/tfrecord_golden.py — hand-built
    * crc32c framing + proto wire bytes): canonical bytes/int64/float
    * features, negative varints, NaN-payload float bits, unpacked and
    * split-packed list encodings, unknown fields at every message
    * level, duplicate map keys (last wins), oneof kind override, a
    * non-proto record kept as a degraded `unparsed` row, a whole-file
    * gzipped shard, and two corrupt shards whose ABSENCE from the
    * output is itself graded (CRC flip / truncation → per-file skip).
    * [[graft.sources.GeoIngest.tfrecord]] scans distributed;
    * floats are graded by their raw LE wire bits (bit-exact). */
  def qTfrecordRead(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.tfrecord
      .read(spark, graft.Fixtures.path("q_tfrecord_read"))
      .select(col("file"), col("rec_idx"), col("key"), col("kind"),
        col("elem_idx"), col("int_val"), col("float_bits"),
        length(col("bytes_val")).as("bytes_len"),
        md5(col("bytes_val")).as("bytes_md5"))
  }

  val qTfrecordReadSql: String =
    s"""SELECT file, rec_idx, key, kind, elem_idx, int_val, float_bits,
      |  bytes_len, bytes_md5
      |FROM read_parquet('${graft.Fixtures.base}/q_tfrecord_read/golden/*.parquet')""".stripMargin

  /** ZIP archive scan, oracle-graded per member — the other archive
    * shape datasets ship in next to tar (Kaggle exports, scraped-doc
    * bundles); its END-anchored central directory is what makes it
    * range-read-friendly on an object store. Fixtures in
    * `tools/fixtures/q_zip_scan/` were written by Python's zipfile
    * (tools/zip_golden.py — real zlib deflate + central directories):
    * stored and deflated members, nested paths, a directory entry
    * (structural — not emitted), an empty member, an archive comment
    * (EOCD backward scan), a unicode name, a data-descriptor archive
    * written through a non-seekable stream (local headers carry zero
    * sizes; the central directory carries truth), a bzip2 member that
    * must skip per-MEMBER while its siblings survive, a truncated
    * archive that must skip per-FILE — both absences graded — and a
    * hand-assembled ZIP64 archive (saturated EOCD sentinels → zip64
    * locator → zip64 EOCD record, per-entry 0x0001 extras at both
    * widths; cross-validated by Python zipfile's own reader), the
    * NORMAL >4 GiB / >65k-member delivery shape at 100 TB scale. */
  def qZipScan(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.zip
      .read(spark, graft.Fixtures.path("q_zip_scan"))
      .select(col("file"), col("member"), col("method"),
        length(col("content")).as("size"),
        md5(col("content")).as("md5"))
  }

  val qZipScanSql: String =
    s"""SELECT file, member, method, size, md5
      |FROM read_parquet('${graft.Fixtures.base}/q_zip_scan/golden/*.parquet')""".stripMargin

  /** Avro object-container scan, oracle-graded per field cell — the
    * warehouse/Kafka interchange format on its way into a corpus.
    * Fixtures in `tools/fixtures/q_avro_read/` are hand-encoded per
    * the Avro 1.11 spec by tools/avro_golden.py (zigzag varints,
    * union branches, array blocks, deflate blocks — no Avro library
    * anywhere in the writer), decoded here by the Avro runtime on
    * Spark's own classpath — two independent implementations meeting
    * over the wire. Null and deflate codecs, multi-block files,
    * union(null,string), array<long>, NaN floats; a sync-flipped and
    * an unknown-codec file whose ABSENCE is graded (whole-file
    * refusal). Floats/doubles grade by raw IEEE bits. */
  def qAvroRead(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.avro
      .read(spark, graft.Fixtures.path("q_avro_read"))
      .select(col("file"), col("rec_idx"), col("field"), col("elem_idx"),
        col("vtype"), col("long_val"), col("float_bits"),
        col("double_bits"), col("str_val"),
        length(col("bytes_val")).as("bytes_len"),
        md5(col("bytes_val")).as("bytes_md5"))
  }

  val qAvroReadSql: String =
    s"""SELECT file, rec_idx, field, elem_idx, vtype, long_val, float_bits,
      |  double_bits, str_val, bytes_len, bytes_md5
      |FROM read_parquet('${graft.Fixtures.base}/q_avro_read/golden/*.parquet')""".stripMargin

  /** BMP scan, oracle-graded per pixel — the uncompressed DIB format
    * web crawls still surface. Fixtures in
    * `tools/fixtures/q_bmp_decode/` are hand-assembled per the public
    * format by tools/bmp_golden.py (no imaging library):
    * stride-padded 24-bit bottom-up, 8-bit and 1-bit indexed with
    * BGRA palettes, top-down 32-bit BGRX, and RLE8 with runs,
    * odd-count absolute mode, a delta skip over background, and an
    * early end-of-line; a truncated file and a BI_BITFIELDS file
    * whose ABSENCE is graded (whole-file refusal). */
  def qBmpDecode(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.bmp
      .read(spark, graft.Fixtures.path("q_bmp_decode"))
      .select(col("file"), col("y"), col("x"), col("r"), col("g"), col("b"))
  }

  val qBmpDecodeSql: String =
    s"""SELECT file, y, x, r, g, b
      |FROM read_parquet('${graft.Fixtures.base}/q_bmp_decode/golden/*.parquet')""".stripMargin

  /** GIF encode→decode round-trip, oracle-graded — the corpus-driven
    * scale path of the GIF family (q_gif_decode grades the committed
    * foreign fixtures; THIS one scales with SF): each doc's
    * characters map to palette indices, [[graft.sources.GifCodec]]
    * encodes a real GIF89a (its LZW coder mirrors the decoder's
    * growth/reset rules) and decodes it back, and the checksum runs
    * over the decoded RGB BYTES through a formula palette — so any
    * drift in the LZW round-trip, palette resolution, or row order
    * flips the hash the oracle recomputes from the text alone.
    * Distributed shape: per-row encode/decode fan-out, no shuffle. */
  def qGifRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pal = Array.tabulate(16 * 3) { j =>
      val i = j / 3
      (j % 3 match {
        case 0 => (i * 17) % 256
        case 1 => (i * 29 + 3) % 256
        case 2 => (i * 47 + 11) % 256
      }).toByte
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .filter(_._2.length >= 6)
      .map { case (id, text) =>
        val w = math.min(text.length / 6, 65535) // GIF dims are u16
        val n = 6 * w
        val idx = new Array[Byte](n)
        var p = 0
        while (p < n) { idx(p) = (text.charAt(p) % 16).toByte; p += 1 }
        val enc = graft.sources.GifCodec.encode(w, 6, pal, idx)
        val dec = graft.sources.GifCodec.decode(enc)
          .getOrElse(throw new IllegalStateException(s"own gif undecodable: $id"))
          .head
        var sum = 0L; var ck = 0L
        var i = 0
        while (i < dec.rgb.length) {
          val v = dec.rgb(i) & 0xff
          sum += v
          ck = (ck * 31 + v) % 72057594037927931L
          i += 1
        }
        require(enc.length > 13, s"doc $id: degenerate gif")
        (id, dec.w, dec.h, sum, ck)
      }
      .toDF("doc_id", "width", "height", "px_sum", "checksum")
  }

  val qGifRoundtripSql: String =
    """SELECT doc_id, CAST(least(length(text) // 6, 65535) AS INT) AS width,
      |  6 AS height,
      |  CAST(list_sum(vals) AS BIGINT) AS px_sum,
      |  list_reduce(list_transform(vals, c -> CAST(c AS BIGINT)),
      |              (a, c) -> (a * 31 + c) % 72057594037927931) AS checksum
      |FROM (
      |  SELECT doc_id, text,
      |    flatten(list_transform(range(least(length(text) // 6, 65535) * 6),
      |      i -> [((ascii(substr(text, i+1, 1)) % 16) * 17) % 256,
      |            ((ascii(substr(text, i+1, 1)) % 16) * 29 + 3) % 256,
      |            ((ascii(substr(text, i+1, 1)) % 16) * 47 + 11) % 256]))
      |      AS vals
      |  FROM documents WHERE length(text) >= 6)""".stripMargin

  /** safetensors shard round-trip, oracle-graded per shard group —
    * the corpus-driven scale path of the safetensors WRITE surface
    * (q_safetensors_read grades committed fixtures; THIS one scales
    * with SF): each vec_id%16 group stacks its embeddings into the
    * sink's exact layout (embeddings F32 [n,dim] + ids I64 [n]),
    * encodes through [[graft.sources.SafetensorsCodec.encode]],
    * decodes straight back, and folds a rolling checksum over the
    * decoded element stream (embeddings row-major, then ids) in
    * vec_id order — so any drift in the canonical header, span
    * layout, or bit packing flips the hash the oracle recomputes from
    * the embeddings table alone. The shard byte length is ALSO graded
    * (the canonical header makes it computable in SQL — a one-byte
    * header change fails the oracle). The group count is the
    * parallelism knob at 100 TB; one keyed shuffle. */
  def qSafetensorsRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .groupByKey(_._1 % 16)
      .mapGroups { (grp, it) =>
        val rows = it.toArray.sortBy(_._1)
        val n = rows.length
        val dim = rows.head._2.length
        val emb = java.nio.ByteBuffer.allocate(n * dim * 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val ids = java.nio.ByteBuffer.allocate(n * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        rows.foreach { case (id, v) => v.foreach(emb.putFloat); ids.putLong(id) }
        val bytes = graft.sources.SafetensorsCodec.encode(Seq(
          ("embeddings", "F32", Seq(n.toLong, dim.toLong), emb.array()),
          ("ids", "I64", Seq(n.toLong), ids.array())))
        val es = graft.sources.SafetensorsCodec.decode(bytes)
          .getOrElse(throw new IllegalStateException(s"own shard undecodable: $grp"))
        var ck = 0L
        var qsum = 0L
        es.foreach { e =>
          val q =
            if (e.dtype == "F32") {
              val f = java.lang.Float.intBitsToFloat(e.bits.toInt)
              val x = math.floor(f.toDouble * 1e6).toLong
              qsum += x
              x
            } else e.bits
          ck = (ck * 31 + q) % 72057594037927931L
        }
        (grp, n, bytes.length, qsum, ck)
      }
      .toDF("grp", "n_rows", "shard_bytes", "qsum", "ck")
  }

  val qSafetensorsRoundtripSql: String =
    """WITH g AS (
      |  SELECT vec_id % 16 AS grp,
      |    count(*) AS n,
      |    any_value(len(embedding)) AS d,
      |    flatten(list(list_transform(embedding,
      |      v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))
      |      ORDER BY vec_id)) AS qs,
      |    list(vec_id ORDER BY vec_id) AS ids
      |  FROM embeddings GROUP BY 1)
      |SELECT grp, CAST(n AS INT) AS n_rows,
      |  CAST(8 + length(concat('{"embeddings":{"dtype":"F32","shape":[',
      |    n, ',', d, '],"data_offsets":[0,', 4 * n * d,
      |    ']},"ids":{"dtype":"I64","shape":[', n, '],"data_offsets":[',
      |    4 * n * d, ',', 4 * n * d + 8 * n, ']}}'))
      |    + 4 * n * d + 8 * n AS INT) AS shard_bytes,
      |  CAST(list_sum(qs) AS BIGINT) AS qsum,
      |  list_reduce(qs || ids, (a, c) -> (a * 31 + c) % 72057594037927931)
      |    AS ck
      |FROM g""".stripMargin

  /** Arrow shard round-trip, oracle-graded per shard group — the
    * corpus-driven scale path of the Arrow WRITE surface: each
    * vec_id%16 group encodes through [[graft.sources.ArrowWrite
    * .encodeFile]] (full Feather V2: flatbuffers schema/batch/footer)
    * and decodes back through the scan codec; the rolling checksum
    * folds the decoded cell stream in the codec's emission order (id
    * column, then embeddings row-major) so any drift in the builder's
    * vtables, buffer layout, or body offsets flips the hash the
    * oracle recomputes from the embeddings table alone. One keyed
    * shuffle; group count is the 100 TB knob. */
  def qArrowRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .groupByKey(_._1 % 16)
      .mapGroups { (grp, it) =>
        val rows = it.toArray.sortBy(_._1)
        val n = rows.length
        val dim = rows.head._2.length
        val ids = rows.map(_._1)
        val emb = new Array[Float](n * dim)
        var k = 0
        rows.foreach { case (_, v) => v.foreach { f => emb(k) = f; k += 1 } }
        val bytes = graft.sources.ArrowWrite.encodeFile(ids, emb, dim)
        val cells = graft.sources.ArrowCodec.decode(bytes)
          .getOrElse(throw new IllegalStateException(s"own arrow undecodable: $grp"))
        var ck = 0L
        var qsum = 0L
        cells.foreach { c =>
          val q =
            if (c.vtype == "f32") {
              val f = java.lang.Float.intBitsToFloat(c.bits.get.toInt)
              val x = math.floor(f.toDouble * 1e6).toLong
              qsum += x
              x
            } else c.bits.get
          ck = (ck * 31 + q) % 72057594037927931L
        }
        (grp, n, cells.size, qsum, ck)
      }
      .toDF("grp", "n_rows", "n_cells", "qsum", "ck")
  }

  val qArrowRoundtripSql: String =
    """WITH g AS (
      |  SELECT vec_id % 16 AS grp,
      |    count(*) AS n,
      |    any_value(len(embedding)) AS d,
      |    flatten(list(list_transform(embedding,
      |      v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))
      |      ORDER BY vec_id)) AS qs,
      |    list(vec_id ORDER BY vec_id) AS ids
      |  FROM embeddings GROUP BY 1)
      |SELECT grp, CAST(n AS INT) AS n_rows,
      |  CAST(n * (1 + d) AS INT) AS n_cells,
      |  CAST(list_sum(qs) AS BIGINT) AS qsum,
      |  list_reduce(ids || qs, (a, c) -> (a * 31 + c) % 72057594037927931)
      |    AS ck
      |FROM g""".stripMargin

  /** MediaWiki dump scan, oracle-graded per page — Wikipedia's
    * `pages-articles.xml.bz2` exactly as published (the wiki slice of
    * every serious pretraining mix: The Pile, RedPajama, Dolma).
    * Fixtures in `tools/fixtures/q_wiki_pages/` are hand-assembled
    * export XML (tools/wiki_golden.py escapes; [[graft.sources
    * .WikiXml]] unescapes with a single left-to-right entity pass —
    * the two must be exact inverses over the fixture's entity zoo:
    * `&amp;#65;` must survive as literal `&#65;`, numeric decimal and
    * hex entities must decode, a replace-chain would double-decode
    * both). Multistream bzip2 (two concatenated members split
    * mid-document), a redirect page, non-zero namespaces, a
    * self-closed empty `<text/>`; a truncated shard and a
    * non-mediawiki shard whose ABSENCE is graded. */
  def qWikiPages(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.wiki
      .read(spark, graft.Fixtures.path("q_wiki_pages"))
      .select(col("shard"), col("page_id"), col("ns"), col("title"),
        col("redirect"), length(col("text")).as("text_len"),
        md5(col("text")).as("text_md5"))
  }

  val qWikiPagesSql: String =
    s"""SELECT shard, page_id, ns, title, redirect, text_len, text_md5
      |FROM read_parquet('${graft.Fixtures.base}/q_wiki_pages/golden/*.parquet')""".stripMargin

  /** End-to-end wiki ingest: dump parse → wikitext clean, oracle-
    * graded per page over REAL wikitext (templates, piped links,
    * categories, tables, headings from the fixture dump — not the
    * synthetic formula q_wikitext_clean uses). The Spark side runs
    * [[graft.sources.WikiXml]] then the SHARED canonical chain
    * ([[graft.operators.TextOps.wikitextClean]]); the oracle reads
    * the golden parquet's raw page text (written by the independent
    * Python escaper) and applies the SAME chain in its own SQL
    * implementation (TextQueries.wikitextCleanSqlFor) — dump parse,
    * entity decode, and all fifteen cleaning stages must agree or the
    * hash flips. This is the first two stages of every wiki slice in
    * a pretraining mix, composed. */
  def qWikiClean(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.wiki
      .read(spark, graft.Fixtures.path("q_wiki_pages"))
      .select(col("page_id"), length(col("text")).as("n_raw"),
        graft.operators.TextOps.wikitextClean(col("text")).as("text_clean"))
      .withColumn("n_clean", length(col("text_clean")))
  }

  val qWikiCleanSql: String = graft.queries.TextQueries.wikitextCleanSqlFor(
    s"""SELECT page_id AS k, text AS w
      |  FROM read_parquet('${graft.Fixtures.base}/q_wiki_pages/golden/*.parquet')""".stripMargin,
    "page_id")

  /** GIF scan, oracle-graded per pixel — the web-corpus long-tail
    * image format a LAION-style crawl decodes or skips constantly,
    * and (animated) the smallest real frame-sample case. Fixtures in
    * `tools/fixtures/q_gif_decode/` are assembled by a from-scratch
    * Python GIF ENCODER (tools/gif_golden.py — spec LZW with the
    * early-grow rule, sub-blocks, interlace passes, local color
    * tables; no imaging library anywhere); [[graft.sources.GifCodec]]
    * decodes independently. Two-frame animation with a canvas-offset
    * rect, a GIF87a INTERLACED frame, a local-palette frame behind
    * comment + application extensions, and a 128x96 stress frame that
    * fills the LZW dictionary to 4096 and resets mid-stream; a
    * truncated file and an out-of-range-code file whose ABSENCE is
    * graded (whole-file refusal). */
  def qGifDecode(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.gif
      .read(spark, graft.Fixtures.path("q_gif_decode"))
      .select(col("file"), col("frame"), col("y"), col("x"),
        col("r"), col("g"), col("b"))
  }

  val qGifDecodeSql: String =
    s"""SELECT file, frame, y, x, r, g, b
      |FROM read_parquet('${graft.Fixtures.base}/q_gif_decode/golden/*.parquet')""".stripMargin

  /** Composited GIF animation, oracle-graded per canvas pixel — what
    * a vision pipeline actually samples from an animated GIF (the
    * predominant web-corpus case): full-canvas RGBA frames after the
    * graphic-control disposal state machine and transparency, via
    * [[graft.sources.GifCodec.composite]]. Fixtures exercise
    * do-not-dispose over a base frame, transparency holes,
    * restore-to-background (the rect goes transparent for the NEXT
    * frame but is visible in its own snapshot), restore-to-previous,
    * a partial first frame whose alpha-0 border survives every
    * snapshot, and an interlaced local-palette delta frame; an
    * off-screen rect file's ABSENCE is graded (whole-file refusal).
    * Golden computed by an independent Python compositor over the
    * encode-side palette indices (tools/gif_golden.py). */
  def qGifFrames(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.gifCanvases
      .read(spark, graft.Fixtures.path("q_gif_frames"))
      .select(col("file"), col("frame"), col("y"), col("x"),
        col("r"), col("g"), col("b"), col("a"))
  }

  val qGifFramesSql: String =
    s"""SELECT file, frame, y, x, r, g, b, a
      |FROM read_parquet('${graft.Fixtures.base}/q_gif_frames/golden/*.parquet')""".stripMargin

  /** MP4 / ISO-BMFF sample tables, oracle-graded per sample — a video
    * pipeline's first job over a crawled MP4 is recovering per-sample
    * (offset, size, dts/pts, sync) from `stbl` so frames can be
    * ranged-fetched and stride-sampled WITHOUT decoding (codec
    * payloads are opaque by design — the brief's multimodal stub
    * boundary). Fixtures are assembled by a from-scratch Python
    * ISO-BMFF writer (tools/mp4_golden.py — no media library
    * anywhere); [[graft.sources.Mp4Codec]] walks independently.
    * Covered: multi-run stts, stsc chunk-run expansion, varied +
    * CONSTANT stsz, stco + co64, stss (absent = all sync), signed
    * ctts, version-1 time boxes, interleaved A/V chunks, skip-boxes;
    * a fragmented (moof) file, a truncated mdat, and a size<8 box
    * are refused — their ABSENCE from the golden is graded. The md5
    * column hashes each sample's actual byte span: the table is only
    * correct if the payloads it names are fetchable. */
  def qMp4Samples(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.mp4
      .read(spark, graft.Fixtures.path("q_mp4_samples"))
      .select(col("file"), col("track"), col("handler"), col("codec"),
        col("tsc"), col("smp"), col("chunk"), col("off"), col("size"),
        col("dts"), col("dur"), col("pts"), col("sync"), col("md5"))
  }

  val qMp4SamplesSql: String =
    s"""SELECT file, track, handler, codec, tsc, smp, chunk, off, size,
      |  dts, dur, pts, sync, md5
      |FROM read_parquet('${graft.Fixtures.base}/q_mp4_samples/golden/*.parquet')""".stripMargin

  /** Subtitle cues, oracle-graded per cue — WebVTT (YouTube-style ASR
    * output) and SRT (movie/TV corpora), the caption layer of a video
    * corpus. Fixtures hand-written against the public formats
    * (tools/vtt_golden.py): NOTE/STYLE blocks, cue identifiers, cue
    * settings, short-form timestamps, hour-boundary cues, CRLF SRT
    * with comma decimals, a header-only file (zero rows), and a
    * headerless file whose ABSENCE is graded (whole-file refusal). */
  def qVttCues(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.subtitles
      .read(spark, graft.Fixtures.path("q_vtt_cues"))
      .select(col("file"), col("cue"), col("start_ms"), col("end_ms"),
        col("text"))
  }

  val qVttCuesSql: String =
    s"""SELECT file, cue, start_ms, end_ms, text
      |FROM read_parquet('${graft.Fixtures.base}/q_vtt_cues/golden/*.parquet')""".stripMargin

  /** MP4 mux∘walk roundtrip AT CORPUS SCALE — every document's text
    * is cut into 16-char samples (cap 8), muxed into a real ISO-BMFF
    * file executor-side ([[graft.sources.Mp4Codec.mux]]: chunks of 4,
    * one stts run, sync every third sample), then walked back by the
    * independent [[graft.sources.Mp4Codec.decode]]; each emitted
    * sample's md5 hashes the ACTUAL byte span the table names, so the
    * oracle's pure-SQL arithmetic (substr + md5 in DuckDB) proves
    * offsets, chunking, timing and sync end-to-end with no golden
    * file. Lands in the MEASURED scale set — per-row work, no
    * shuffle. */
  def qMp4Roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val n = math.min(text.length / 16, 8)
        if (n < 1) Iterator.empty
        else {
          val subs = (0 until n).map(i => text.substring(16 * i, 16 * i + 16)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val bytes = graft.sources.Mp4Codec.mux(subs, 1000, 100)
          graft.sources.Mp4Codec.decode(bytes).toSeq.flatten.iterator.map { s =>
            val md = java.security.MessageDigest.getInstance("MD5")
            md.update(bytes, s.off.toInt, s.size.toInt)
            (id, s.smp, s.chunk, s.size, s.dts, s.dur,
              if (s.sync) 1 else 0,
              md.digest().map("%02x".format(_)).mkString)
          }
        }
      }.toDF("doc_id", "smp", "chunk", "size_b", "dts", "dur", "sync", "md5")
  }

  val qMp4RoundtripSql: String =
    """WITH d AS (
      |  SELECT doc_id, text, LEAST(length(text) // 16, 8) AS n
      |  FROM documents),
      |u AS (
      |  SELECT doc_id, text, CAST(unnest(range(n)) AS INT) AS smp
      |  FROM d WHERE n >= 1),
      |s AS (
      |  SELECT doc_id, smp,
      |    substr(text, CAST(smp AS BIGINT) * 16 + 1, 16) AS sub
      |  FROM u)
      |SELECT doc_id, smp, CAST(smp // 4 AS INT) AS chunk,
      |  CAST(strlen(sub) AS BIGINT) AS size_b,
      |  CAST(smp AS BIGINT) * 100 AS dts, CAST(100 AS BIGINT) AS dur,
      |  CASE WHEN smp % 3 = 0 THEN 1 ELSE 0 END AS sync,
      |  md5(sub) AS md5
      |FROM s""".stripMargin

  /** PDF write∘read roundtrip AT CORPUS SCALE — the same 16-char
    * cuts become Tj runs of a one-page classic-xref PDF written
    * executor-side ([[graft.sources.PdfCodec.write]], parens and
    * backslashes escaped) and read back by
    * [[graft.sources.PdfCodec.decode]]; runs re-encode to their
    * original bytes (Latin-1 inverse of the reader's decoding) and
    * md5-match DuckDB's substr arithmetic. No golden file; measured
    * scale set. */
  def qPdfRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val n = math.min(text.length / 16, 8)
        if (n < 1) Iterator.empty
        else {
          val runs = (0 until n).map(i => text.substring(16 * i, 16 * i + 16)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val pdf = graft.sources.PdfCodec.write(runs)
          graft.sources.PdfCodec.decode(pdf).toSeq.flatten.iterator.map { r =>
            val bytes = r.text.getBytes(
              java.nio.charset.StandardCharsets.ISO_8859_1)
            val md = java.security.MessageDigest.getInstance("MD5")
            (id, r.run,
              md.digest(bytes).map("%02x".format(_)).mkString)
          }
        }
      }.toDF("doc_id", "run", "md5")
  }

  val qPdfRoundtripSql: String =
    """WITH d AS (
      |  SELECT doc_id, text, LEAST(length(text) // 16, 8) AS n
      |  FROM documents),
      |u AS (
      |  SELECT doc_id, text, CAST(unnest(range(n)) AS INT) AS run
      |  FROM d WHERE n >= 1)
      |SELECT doc_id, run,
      |  md5(substr(text, CAST(run AS BIGINT) * 16 + 1, 16)) AS md5
      |FROM u""".stripMargin

  /** WebP container metadata, oracle-graded — WebP is the dominant
    * image format of the modern web; a crawl's first pass needs
    * canvas dims, alpha/animation flags, the frame table and embedded
    * EXIF WITHOUT a VP8 decoder. Covers bare VP8 (frame-tag sync +
    * 14-bit dims), bare VP8L (bitfield header), VP8X extended
    * (flags + u24 canvas), ANIM/ANMF frames (geometry, durations,
    * dispose), RIFF odd-size padding, and an EXIF chunk whose GPS
    * decodes through the same TIFF walk as q_exif_gps (image PII).
    * Fixtures from a from-scratch Python RIFF writer
    * (tools/webp_golden.py); a chunk-past-EOF file and a broken-sync
    * file are refused — their ABSENCE is graded. */
  def qWebpMeta(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.webp
      .read(spark, graft.Fixtures.path("q_webp_meta"))
      .select(col("file"), col("kind"), col("key"), col("idx"),
        col("num"), col("sval"))
  }

  val qWebpMetaSql: String =
    s"""SELECT file, kind, key, idx, num, sval
      |FROM read_parquet('${graft.Fixtures.base}/q_webp_meta/golden/*.parquet')""".stripMargin

  /** AVIF/HEIF metadata, oracle-graded — the fastest-growing web
    * image format (and the iPhone default, HEIC) is an ISO-BMFF
    * `meta` file: pitm primary item, iinf/infe item table, iloc
    * extents (v0 and v1+base_offset covered), iprp's ispe-through-
    * ipma canvas resolution, and an Exif item decoded through the
    * shared TIFF walk (GPS = image PII). Extent md5s hash the actual
    * byte spans — the ranged-fetch proof. Fixtures from a
    * from-scratch Python ISO-BMFF writer (tools/avif_golden.py); an
    * extent-past-EOF file's ABSENCE is graded. */
  def qAvifMeta(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.avif
      .read(spark, graft.Fixtures.path("q_avif_meta"))
      .select(col("file"), col("kind"), col("key"), col("idx"),
        col("num"), col("sval"))
  }

  val qAvifMetaSql: String =
    s"""SELECT file, kind, key, idx, num, sval
      |FROM read_parquet('${graft.Fixtures.base}/q_avif_meta/golden/*.parquet')""".stripMargin

  /** FLAC metadata, oracle-graded — the audio-corpus curation
    * surface: STREAMINFO's packed bitfields (rate/channels/bits/
    * total samples, derived duration) and Vorbis comments
    * (little-endian lengths inside the big-endian container, `=` in
    * values preserved, keys upper-canonicalized), seektable/padding
    * skipped by length. Fixtures from a from-scratch Python writer
    * (tools/audio_meta_golden.py); a short-STREAMINFO file's ABSENCE
    * is graded. */
  def qFlacMeta(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.audioMeta
      .read(spark, graft.Fixtures.path("q_flac_meta"))
      .select(col("file"), col("kind"), col("key"), col("sval"), col("num"))
  }

  val qFlacMetaSql: String =
    s"""SELECT file, kind, key, sval, num
      |FROM read_parquet('${graft.Fixtures.base}/q_flac_meta/golden/*.parquet')""".stripMargin

  /** ID3v2 tags + MPEG-1 Layer III stream shape, oracle-graded — the
    * MP3 half of audio curation: v2.3 (plain frame sizes) and v2.4
    * (syncsafe) text frames across Latin-1/UTF-16-BOM/UTF-8, COMM
    * skipped, then the first audio frame header's bitrate/rate/frame
    * length (the duration estimator's inputs). A tagless file still
    * reports its stream shape; an ID3 size past EOF refuses. */
  def qId3Tags(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.audioMeta
      .read(spark, graft.Fixtures.path("q_id3_tags"))
      .select(col("file"), col("kind"), col("key"), col("sval"), col("num"))
  }

  val qId3TagsSql: String =
    s"""SELECT file, kind, key, sval, num
      |FROM read_parquet('${graft.Fixtures.base}/q_id3_tags/golden/*.parquet')""".stripMargin

  /** Ogg/Opus metadata, oracle-graded — the podcast/speech-corpus
    * container: RFC 3533 page walk (capture pattern, CRC32 with the
    * forward 0x04C11DB7 polynomial, lacing-value packet reassembly
    * incl. a tags packet SPANNING TWO PAGES), RFC 7845 OpusHead
    * (channels/preskip/input rate) and OpusTags (the FLAC Vorbis
    * comment grammar reused), duration from the last granule at the
    * fixed 48 kHz rate. Fixtures from a from-scratch Python writer
    * (tools/ogg_golden.py); a flipped-CRC file and a multiplexed
    * two-serial file are refused — their ABSENCE is graded. */
  def qOpusMeta(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.opus
      .read(spark, graft.Fixtures.path("q_opus_meta"))
      .select(col("file"), col("kind"), col("key"), col("idx"),
        col("num"), col("sval"))
  }

  val qOpusMetaSql: String =
    s"""SELECT file, kind, key, idx, num, sval
      |FROM read_parquet('${graft.Fixtures.base}/q_opus_meta/golden/*.parquet')""".stripMargin

  /** PDF text runs, oracle-graded — PDF is the dominant document
    * format in crawled corpora, and "extract the shown text" is every
    * document pipeline's first operator. The codec walks the classic
    * envelope from scratch (startxref → xref tables with
    * incremental-update /Prev chains, the page tree, content-stream
    * token scan over Tj/'/"/TJ, FlateDecode, literal-string
    * escapes/octal, hex strings, indirect /Length); the contract is
    * layout-free — one row per shown string run in stream order.
    * Fixtures from a from-scratch Python PDF writer
    * (tools/pdf_golden.py): an incremental update whose NEW content
    * supersedes the old, an xref-STREAM file and a truncated file
    * whose ABSENCE is graded. */
  def qPdfText(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.pdf
      .read(spark, graft.Fixtures.path("q_pdf_text"))
      .select(col("file"), col("page"), col("run"), col("text"))
  }

  val qPdfTextSql: String =
    s"""SELECT file, page, run, text
      |FROM read_parquet('${graft.Fixtures.base}/q_pdf_text/golden/*.parquet')""".stripMargin

  /** EXIF metadata, oracle-graded per tag value — the image-side PII
    * surface: crawled JPEGs carry camera metadata in an APP1 TIFF
    * tree, and its GPS sub-IFD is personal data a corpus pipeline
    * must surface and strip (the image counterpart of q_pii_scrub).
    * Fixtures assembled by a from-scratch Python APP1/TIFF writer
    * (tools/exif_golden.py): little- AND big-endian blocks, inline vs
    * offset values, ASCII/SHORT/LONG/RATIONAL/UNDEFINED/SRATIONAL
    * types, EXIF + GPS sub-IFD pointers; a no-Exif JPEG contributes
    * zero rows and a truncated-IFD file's ABSENCE is graded. */
  def qExifMeta(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.exif
      .read(spark, graft.Fixtures.path("q_exif_meta"))
      .select(col("file"), col("ifd"), col("tag"), col("ttype"),
        col("idx"), col("num"), col("den"), col("sval"))
  }

  val qExifMetaSql: String =
    s"""SELECT file, ifd, tag, ttype, idx, num, den, sval
      |FROM read_parquet('${graft.Fixtures.base}/q_exif_meta/golden/*.parquet')""".stripMargin

  /** GPS coordinates decoded to signed decimal degrees — the actual
    * PII-curation output: degrees + minutes/60 + seconds/3600 from
    * the three GPS rationals, sign from the N/S–E/W refs, altitude
    * when present. Computed from the ENGINE's own q_exif_meta rows
    * (the oracle recomputes from the golden tag rows with the same
    * fixed-order arithmetic — per-row double math is bit-exact across
    * engines). One row per geotagged image. */
  def qExifGps(spark: SparkSession): DataFrame = {
    val g = qExifMeta(spark).filter(col("ifd") === "gps")
    def comp(tag: Int, idx: Int): Column =
      max(when(col("tag") === tag && col("idx") === idx,
        col("num").cast("double") / col("den").cast("double")))
    def ref(tag: Int): Column =
      max(when(col("tag") === tag, col("sval")))
    val piv = g.groupBy(col("file")).agg(
      comp(2, 0).as("lat_d"), comp(2, 1).as("lat_m"), comp(2, 2).as("lat_s"),
      comp(4, 0).as("lon_d"), comp(4, 1).as("lon_m"), comp(4, 2).as("lon_s"),
      comp(6, 0).as("alt_raw"),
      max(when(col("tag") === 5 && col("idx") === 0, col("num"))).as("alt_ref"),
      ref(1).as("lat_ref"), ref(3).as("lon_ref"))
    piv.filter(col("lat_d").isNotNull && col("lon_d").isNotNull)
      .select(col("file"),
        ((col("lat_d") + col("lat_m") / 60.0 + col("lat_s") / 3600.0) *
          when(col("lat_ref") === "S", -1.0).otherwise(1.0)).as("lat"),
        ((col("lon_d") + col("lon_m") / 60.0 + col("lon_s") / 3600.0) *
          when(col("lon_ref") === "W", -1.0).otherwise(1.0)).as("lon"),
        (col("alt_raw") *
          when(col("alt_ref") === 1, -1.0).otherwise(1.0)).as("alt_m"))
  }

  val qExifGpsSql: String =
    s"""WITH g AS (
      |  SELECT * FROM read_parquet('${graft.Fixtures.base}/q_exif_meta/golden/*.parquet')
      |  WHERE ifd = 'gps'),
      |piv AS (
      |  SELECT file,
      |    max(CASE WHEN tag=2 AND idx=0 THEN CAST(num AS DOUBLE)/CAST(den AS DOUBLE) END) AS lat_d,
      |    max(CASE WHEN tag=2 AND idx=1 THEN CAST(num AS DOUBLE)/CAST(den AS DOUBLE) END) AS lat_m,
      |    max(CASE WHEN tag=2 AND idx=2 THEN CAST(num AS DOUBLE)/CAST(den AS DOUBLE) END) AS lat_s,
      |    max(CASE WHEN tag=4 AND idx=0 THEN CAST(num AS DOUBLE)/CAST(den AS DOUBLE) END) AS lon_d,
      |    max(CASE WHEN tag=4 AND idx=1 THEN CAST(num AS DOUBLE)/CAST(den AS DOUBLE) END) AS lon_m,
      |    max(CASE WHEN tag=4 AND idx=2 THEN CAST(num AS DOUBLE)/CAST(den AS DOUBLE) END) AS lon_s,
      |    max(CASE WHEN tag=6 AND idx=0 THEN CAST(num AS DOUBLE)/CAST(den AS DOUBLE) END) AS alt_raw,
      |    max(CASE WHEN tag=5 AND idx=0 THEN num END) AS alt_ref,
      |    max(CASE WHEN tag=1 THEN sval END) AS lat_ref,
      |    max(CASE WHEN tag=3 THEN sval END) AS lon_ref
      |  FROM g GROUP BY file)
      |SELECT file,
      |  (lat_d + lat_m / 60.0 + lat_s / 3600.0) *
      |    (CASE WHEN lat_ref = 'S' THEN -1.0 ELSE 1.0 END) AS lat,
      |  (lon_d + lon_m / 60.0 + lon_s / 3600.0) *
      |    (CASE WHEN lon_ref = 'W' THEN -1.0 ELSE 1.0 END) AS lon,
      |  alt_raw * (CASE WHEN alt_ref = 1 THEN -1.0 ELSE 1.0 END) AS alt_m
      |FROM piv
      |WHERE lat_d IS NOT NULL AND lon_d IS NOT NULL""".stripMargin

  /** Caption-to-frame alignment — HOW video-text training pairs are
    * built: every video sample (pts converted to wall ms through the
    * track timescale) joined to ITS OWN video's cue whose
    * [start_ms, end_ms) window contains it. The pairing key is the
    * shared file stem (cap-06.mp4 ↔ cap-06.vtt, cap-07.mp4 ↔
    * cap-07.vtt) — round 15's shape joined on the time range alone,
    * correct on one fixture pair but a many-videos cross-match in the
    * production shape; with the stem as an equi-key the plan is a
    * HASH join with the range as a post-filter (PlanQualitySpec pins
    * no-NLJ). The two fixture videos' timelines overlap on purpose so
    * the key is load-bearing in the oracle grade. Frames in caption
    * gaps drop out (inner join); both sides are REAL container walks
    * ([[graft.sources.Mp4Codec]] + [[graft.sources.SubtitleCodec]]),
    * not synthetic stubs. No broadcast hint: at the declared
    * production shape BOTH sides grow with video count (cues-per-
    * video is bounded but videos aren't), so the right default is a
    * stem-keyed shuffle hash join and AQE's runtime choice — it
    * broadcasts the fixture-scale side on its own. cap-08.mp4 bears
    * an edit list, so its rows align at the pts the elst SHIFTS
    * (frames presented before the edit start clip out as negative). */
  def qCaptionAlign(spark: SparkSession): DataFrame = {
    val stem = (c: org.apache.spark.sql.Column) =>
      regexp_replace(c, "\\.[a-z0-9]+$", "")
    val samples = graft.sources.GeoIngest.mp4
      .read(spark, graft.Fixtures.path("q_mp4_samples"))
      .filter(col("handler") === "vide")
      .withColumn("pts_ms", expr("pts * 1000L DIV tsc"))
      .withColumn("vid", stem(col("file")))
    val cues = graft.sources.GeoIngest.subtitles
      .read(spark, graft.Fixtures.path("q_vtt_cues"))
      .select(stem(col("file")).as("vid"), col("cue"),
        col("start_ms"), col("end_ms"), col("text"))
    samples.join(cues,
        samples("vid") === cues("vid") &&
          col("start_ms") <= col("pts_ms") &&
          col("pts_ms") < col("end_ms"))
      .select(samples("vid"), col("smp"), col("pts_ms"), col("sync"),
        col("cue"), col("text"))
  }

  val qCaptionAlignSql: String =
    s"""SELECT regexp_replace(s.file, '\\.[a-z0-9]+$$', '') AS vid,
      |  s.smp, s.pts * 1000 // s.tsc AS pts_ms, s.sync, c.cue, c.text
      |FROM read_parquet('${graft.Fixtures.base}/q_mp4_samples/golden/*.parquet') s
      |JOIN read_parquet('${graft.Fixtures.base}/q_vtt_cues/golden/*.parquet') c
      |  ON regexp_replace(c.file, '\\.[a-z0-9]+$$', '') =
      |     regexp_replace(s.file, '\\.[a-z0-9]+$$', '')
      | AND c.start_ms <= s.pts * 1000 // s.tsc
      | AND s.pts * 1000 // s.tsc < c.end_ms
      |WHERE s.handler = 'vide'""".stripMargin

  /** Corpus-scale caption alignment, SF-scaled so ScaleBenchSpec
    * measures its decade exponent (round-15 review: the fixture-
    * pinned join left the scale claim argued, not measured). Same
    * plan shape as q_caption_align — stem-equality HASH join with the
    * [start_ms, end_ms) range as a post-filter, bounded cue side
    * broadcast — but the frame side derives from the `events` table
    * (50 synthetic videos, 100 ms frame grid) and the cue side is a
    * deterministic 50×60 window grid with 1 s gaps between cues.
    * Output aggregates per (video, cue) so the result stays bounded
    * while the join itself runs at corpus scale. */
  def qCaptionAlignScale(spark: SparkSession, dir: String): DataFrame = {
    val samples = Tables.events(spark, dir).select(
      concat(lit("vid-"), pmod(col("user_id"), lit(50))).as("vid"),
      (pmod(col("event_id"), lit(3600)) * 100).as("pts_ms"))
    val cues = spark.range(50L * 60).select(
      concat(lit("vid-"), expr("id DIV 60")).as("cvid"),
      (col("id") % 60).as("cue"),
      ((col("id") % 60) * 6000).as("start_ms"),
      ((col("id") % 60) * 6000 + 5000).as("end_ms"))
    samples.join(broadcast(cues),
        col("vid") === col("cvid") &&
          col("start_ms") <= col("pts_ms") &&
          col("pts_ms") < col("end_ms"))
      .groupBy(col("vid"), col("cue"))
      .agg(count(lit(1)).as("n_frames"),
        min(col("pts_ms")).as("first_ms"),
        max(col("pts_ms")).as("last_ms"))
  }

  val qCaptionAlignScaleSql: String =
    """WITH samples AS (
      |  SELECT 'vid-' || (user_id % 50) AS vid,
      |         (event_id % 3600) * 100 AS pts_ms
      |  FROM events),
      |cues AS (
      |  SELECT 'vid-' || v AS cvid, k AS cue,
      |         k * 6000 AS start_ms, k * 6000 + 5000 AS end_ms
      |  FROM range(50) t(v), range(60) u(k))
      |SELECT s.vid, c.cue, count(*) AS n_frames,
      |       min(s.pts_ms) AS first_ms, max(s.pts_ms) AS last_ms
      |FROM samples s
      |JOIN cues c ON c.cvid = s.vid
      |  AND c.start_ms <= s.pts_ms AND s.pts_ms < c.end_ms
      |GROUP BY 1, 2""".stripMargin

  /** Arrow IPC scan, oracle-graded per value cell — the columnar
    * interchange format dataset tooling trades (Feather V2 exports;
    * the HuggingFace-datasets cache ships the STREAM framing of the
    * same format). Fixtures in `tools/fixtures/q_arrow_read/` are
    * written by pyarrow ITSELF — the reference implementation
    * (tools/arrow_golden.py) — while [[graft.sources.ArrowCodec]]
    * walks the flatbuffers tables and buffer layout from scratch: two
    * independent implementations meeting over the wire, graded per
    * cell. Both framings; int widths 8-64 signed+unsigned, half/
    * single/double floats (NaN payloads bit-exact), bool bitmaps,
    * utf8 + binary with nulls, fixed_size_list<f32,3> embeddings,
    * list<i64> with null/empty lists and null elements, multi-batch
    * files; compressed bodies both spec codecs (ZSTD and LZ4_FRAME —
    * including a STOCK `pyarrow.feather.write_feather` output, whose
    * default is LZ4 + dictionary-encoded categoricals); dictionary
    * columns in both framings with int32 and int8 indices resolved
    * through DictionaryBatch messages; two refusal fixtures
    * (truncated footer, trailing bytes after the stream EOS marker)
    * whose ABSENCE is graded. */
  def qArrowRead(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.arrow
      .read(spark, graft.Fixtures.path("q_arrow_read"))
      .select(col("file"), col("batch"), col("col"), col("row"),
        col("elem_idx"), col("elem_idx2"), col("elem_idx3"), col("vtype"),
        col("is_null"), col("bits"), col("str_val"))
  }

  val qArrowReadSql: String =
    s"""SELECT file, batch, col, row, elem_idx, elem_idx2, elem_idx3,
      |  vtype, is_null, bits, str_val
      |FROM read_parquet('${graft.Fixtures.base}/q_arrow_read/golden/*.parquet')""".stripMargin

  /** safetensors shard scan, oracle-graded per tensor element — the
    * named-tensor interchange format modern ML artifacts ship in
    * (weight shards, embedding dumps); the reference materializes the
    * same artifacts as npy/h5 (dataops/dataset.py). Fixtures in
    * `tools/fixtures/q_safetensors_read/` are hand-assembled per the
    * public format by tools/safetensors_golden.py (8-byte LE header
    * length + JSON header + raw LE spans — no safetensors library
    * anywhere); [[graft.sources.SafetensorsCodec]] decodes with strict
    * header parsing and span-tiling validation. f32 NaN payloads,
    * f16/bf16/fp8 raw bits, i64 negatives, u64 top-bit values, a 0-d
    * scalar, a zero-size tensor, escaped + unicode tensor names, a
    * space-padded header; four structurally broken files (span
    * overlap, span gap, unknown dtype, truncated data) whose ABSENCE
    * is graded — whole-file refusal. Every value grades by its raw
    * little-endian bits zero-extended to a long: bit-exact for every
    * dtype. */
  def qSafetensorsRead(spark: SparkSession): DataFrame = {
    graft.sources.GeoIngest.safetensors
      .read(spark, graft.Fixtures.path("q_safetensors_read"))
      .select(col("file"), col("tensor"), col("dtype"), col("shape"),
        col("elem_idx"), col("bits"))
  }

  val qSafetensorsReadSql: String =
    s"""SELECT file, tensor, dtype, shape, elem_idx, bits
      |FROM read_parquet('${graft.Fixtures.base}/q_safetensors_read/golden/*.parquet')""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_caption_align_scale" -> (qCaptionAlignScale _),
    "q_mp4_roundtrip" -> (qMp4Roundtrip _),
    "q_pdf_roundtrip" -> (qPdfRoundtrip _),
    "q_gif_roundtrip" -> (qGifRoundtrip _),
    "q_safetensors_roundtrip" -> (qSafetensorsRoundtrip _),
    "q_arrow_roundtrip" -> (qArrowRoundtrip _),
    "q_webdataset" -> (qWebdataset _),
    "q_webdataset_jpeg" -> (qWebdatasetJpeg _),
    "q_netcdf_roundtrip" -> (qNetcdfRoundtrip _),
    "q_png_decode" -> (qPngDecode _),
    "q_tiff_georef" -> (qTiffGeoref _),
    "q_jsonl_gz" -> (qJsonlGz _),
    "q_media_manifest" -> (qMediaManifest _),
    "q_media_features" -> (qMediaFeatures _),
    "q_image_decode" -> (qImageDecode _),
    "q_tiff_decode" -> (qTiffDecode _),
    "q_tiff_lzw" -> (qTiffLzw _),
    "q_tiff_deflate" -> (qTiffDeflate _),
    "q_wav_features" -> (qWavFeatures _),
    "q_tar_shards" -> (qTarShards _),
    "q_npy_roundtrip" -> (qNpyRoundtrip _),
    "q_frame_sample" -> (qFrameSample _),
    "q_resize_features" -> (qResizeFeatures _),
  )

  /** Queries whose input does not scale with SF ([[graft.SparkEntry.fixedInput]]). */
  val fixedInput: Map[String, SparkSession => DataFrame] = Map(
    "q_jpeg_decode" -> (qJpegDecode _),
    "q_jpeg_progressive" -> (qJpegProgressive _),
    "q_jpeg_arith" -> (qJpegArith _),
    "q_jpeg_lossless" -> (qJpegLossless _),
    "q_jpeg12" -> (qJpeg12 _),
    "q_hdf5_read" -> (qHdf5Read _),
    "q_warc_extract" -> (qWarcExtract _),
    "q_wet_extract" -> (qWetExtract _),
    "q_wat_extract" -> (qWatExtract _),
    "q_jsonl_zst" -> (qJsonlZst _),
    "q_jsonl_bz2" -> (qJsonlBz2 _),
    "q_tfrecord_read" -> (qTfrecordRead _),
    "q_zip_scan" -> (qZipScan _),
    "q_avro_read" -> (qAvroRead _),
    "q_bmp_decode" -> (qBmpDecode _),
    "q_wiki_pages" -> (qWikiPages _),
    "q_wiki_clean" -> (qWikiClean _),
    "q_gif_decode" -> (qGifDecode _),
    "q_gif_frames" -> (qGifFrames _),
    "q_mp4_samples" -> (qMp4Samples _),
    "q_vtt_cues" -> (qVttCues _),
    "q_webp_meta" -> (qWebpMeta _),
    "q_avif_meta" -> (qAvifMeta _),
    "q_flac_meta" -> (qFlacMeta _),
    "q_id3_tags" -> (qId3Tags _),
    "q_opus_meta" -> (qOpusMeta _),
    "q_pdf_text" -> (qPdfText _),
    "q_exif_meta" -> (qExifMeta _),
    "q_exif_gps" -> (qExifGps _),
    "q_caption_align" -> (qCaptionAlign _),
    "q_arrow_read" -> (qArrowRead _),
    "q_safetensors_read" -> (qSafetensorsRead _),
  )

  val oracle: Map[String, String] = Map(
    "q_avro_read" -> qAvroReadSql,
    "q_safetensors_read" -> qSafetensorsReadSql,
    "q_arrow_read" -> qArrowReadSql,
    "q_gif_decode" -> qGifDecodeSql,
    "q_gif_frames" -> qGifFramesSql,
    "q_mp4_samples" -> qMp4SamplesSql,
    "q_vtt_cues" -> qVttCuesSql,
    "q_caption_align" -> qCaptionAlignSql,
    "q_caption_align_scale" -> qCaptionAlignScaleSql,
    "q_exif_meta" -> qExifMetaSql,
    "q_exif_gps" -> qExifGpsSql,
    "q_pdf_text" -> qPdfTextSql,
    "q_flac_meta" -> qFlacMetaSql,
    "q_id3_tags" -> qId3TagsSql,
    "q_mp4_roundtrip" -> qMp4RoundtripSql,
    "q_pdf_roundtrip" -> qPdfRoundtripSql,
    "q_webp_meta" -> qWebpMetaSql,
    "q_avif_meta" -> qAvifMetaSql,
    "q_opus_meta" -> qOpusMetaSql,
    "q_wiki_pages" -> qWikiPagesSql,
    "q_wiki_clean" -> qWikiCleanSql,
    "q_gif_roundtrip" -> qGifRoundtripSql,
    "q_bmp_decode" -> qBmpDecodeSql,
    "q_safetensors_roundtrip" -> qSafetensorsRoundtripSql,
    "q_arrow_roundtrip" -> qArrowRoundtripSql,
    "q_zip_scan" -> qZipScanSql,
    "q_tfrecord_read" -> qTfrecordReadSql,
    "q_webdataset" -> qWebdatasetSql,
    "q_webdataset_jpeg" -> qWebdatasetJpegSql,
    "q_hdf5_read" -> qHdf5ReadSql,
    "q_netcdf_roundtrip" -> qNetcdfRoundtripSql,
    "q_jpeg_decode" -> qJpegDecodeSql,
    "q_jpeg_progressive" -> qJpegProgressiveSql,
    "q_jpeg_lossless" -> qJpegLosslessSql,
    "q_jpeg12" -> qJpeg12Sql,
    "q_jpeg_arith" -> qJpegArithSql,
    "q_jsonl_gz" -> qJsonlGzSql,
    "q_jsonl_zst" -> qJsonlZstSql,
    "q_jsonl_bz2" -> qJsonlBz2Sql,
    "q_warc_extract" -> qWarcExtractSql,
    "q_wet_extract" -> qWetExtractSql,
    "q_wat_extract" -> qWatExtractSql,
    "q_media_manifest" -> qMediaManifestSql,
    "q_media_features" -> qMediaFeaturesSql,
    "q_image_decode" -> qImageDecodeSql,
    "q_tiff_decode" -> qTiffDecodeSql,
    "q_tiff_lzw" -> qTiffLzwSql,
    "q_tiff_deflate" -> qTiffLzwSql, // same text-derived oracle; container arm differs
    "q_wav_features" -> qWavFeaturesSql,
    "q_tar_shards" -> qTarShardsSql,
    "q_npy_roundtrip" -> qNpyRoundtripSql,
    "q_tiff_georef" -> qTiffGeorefSql,
    "q_png_decode" -> qPngDecodeSql,
    "q_frame_sample" -> qFrameSampleSql,
    "q_resize_features" -> qResizeFeaturesSql,
  )
}
