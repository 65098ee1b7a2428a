package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Sink layer (SURVEY §2.1 sink rows). The reference's tiled GeoTIFF
  * download (32 MB / 10,000-px tiles, monthly.py:42-146) and
  * 144-record tar shards (dataops/dataset.py:31) both reduce to the
  * same engine concept: bounded-size files under a partitioned
  * layout, with an atomic completion marker (`_SUCCESS`, replacing
  * existence-check idempotence) and a JSON manifest sidecar
  * (monthly.py:415-458 generate_metadata). Every file writer here
  * lands through one [[commit]] rule.
  */
object Sinks {

  /** Partitioned parquet with bounded file sizes. `partitionCols`
    * become the directory layout — the 100 TB pruning key
    * (PARTITIONED BY (date_month, tile), SURVEY §7.0). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       maxRecordsPerFile: Long): Unit =
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** CSV sink (SURVEY §2.1: `to_csv`, optimization.py:216-217). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** CSV source with header + schema inference (SURVEY §2.1:
    * `pd.read_csv`, dataops/dataset.py:310). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** The one commit rule of every file sink, in order: create `dir`;
    * write each partition's (file name, bytes) pairs EXECUTOR-side —
    * `files` gets the partition id and its rows, and payloads never
    * pass through the driver; then, once every partition has landed,
    * the `_SUCCESS` marker, which keeps the skip-if-exists idempotence
    * contract (ee_pipeline.py:125-140). The sink adds no shuffle:
    * partition upstream by the ordering you want written. In the
    * sandbox the destination is local FS; at 100 TB the `Files.write`
    * swaps for a Hadoop `FileSystem.create` against the object store —
    * same bytes, same layout. */
  private def commit(df: DataFrame, dir: String)(
      files: (Int, Iterator[Row]) => Iterator[(String, Array[Byte])]): Unit = {
    Files.createDirectories(Paths.get(dir))
    df.foreachPartition { (it: Iterator[Row]) =>
      files(TaskContext.getPartitionId(), it).foreach { case (name, bytes) =>
        Files.write(Paths.get(dir, name), bytes)
      }
    }
    Files.write(Paths.get(dir, "_SUCCESS"), Array.emptyByteArray)
  }

  /** [[commit]] for shard writers: each partition's rows grouped
    * `perShard` to a shard, shard `i` of partition `pid` landing as
    * `shard_<pid>_<i>.<ext>` with the bytes `encode` makes of its tag
    * `<pid>_<i>` and its rows. */
  private def commitShards(df: DataFrame, dir: String, ext: String, perShard: Int)(
      encode: (String, Seq[Row]) => Array[Byte]): Unit =
    commit(df, dir) { (pid, it) =>
      it.grouped(perShard).zipWithIndex.map { case (group, i) =>
        s"shard_${pid}_$i.$ext" -> encode(s"${pid}_$i", group)
      }
    }

  /** Tiled GeoTIFF sink — the reference's per-tile raster export
    * (monthly.py:42-146), emitting REAL baseline-TIFF containers
    * ([[graft.operators.MultimodalOps.encodeTiff]]: uncompressed
    * 8-bit grayscale, strip-per-row) rather than probe files: one
    * `tile_<id>.tif` per input row. Expects (tile_id, width, height,
    * pixels) rows. */
  def writeTiffTiles(df: DataFrame, dir: String): Unit =
    commit(df.select(col("tile_id").cast("long"), col("width").cast("int"),
        col("height").cast("int"), col("pixels")), dir) { (_, rows) =>
      rows.map { r =>
        s"tile_${r.getLong(0)}.tif" -> graft.operators.MultimodalOps.encodeTiff(
          r.getInt(1), r.getInt(2), r.getAs[Array[Byte]](3))
      }
    }

  /** Tiled npy sink — the reference's tif→npy transform output
    * (dataops/main.py:24-43): one REAL NumPy v1.0 container
    * `tile_<id>.npy` ([[NpyCodec.encodeF4]], byte-identical to
    * `np.save` — spec-pinned against numpy-generated golden bytes) per
    * input row. Expects (tile_id, rows, cols, values: Array[Float]) —
    * cols=0 writes a 1-D array. */
  def writeNpyTiles(df: DataFrame, dir: String): Unit =
    commit(df.select(col("tile_id").cast("long"), col("rows").cast("int"),
        col("cols").cast("int"), col("values")), dir) { (_, rows) =>
      rows.map { r =>
        s"tile_${r.getLong(0)}.npy" -> NpyCodec.encodeF4(r.getInt(1), r.getInt(2),
          r.getSeq[Float](3).toArray)
      }
    }

  /** Webdataset tar-shard sink — the reference's 144-record shards
    * (dataops/dataset.py:31), as REAL ustar archives
    * ([[TarCodec.encode]], readable by tar/webdataset — spec-pinned
    * byte-compatible with Python tarfile's USTAR output): records
    * land as `<key>.txt` members, grouped `recordsPerShard` to a
    * `shard_<pid>_<i>.tar`. Expects (key: String, payload:
    * Array[Byte]) rows. */
  def writeTarShards(df: DataFrame, dir: String, recordsPerShard: Int): Unit =
    commitShards(df.select(col("key").cast("string"), col("payload")), dir, "tar",
        recordsPerShard) { (_, group) =>
      TarCodec.encode(group.map { r =>
        TarCodec.Member(s"${r.getString(0)}.txt", r.getAs[Array[Byte]](1))
      })
    }

  /** TFRecord shard sink — the write half of the TFRecord surface:
    * each row becomes one `tf.train.Example` with a feature per
    * column, mapped by Spark type the way the public TF connectors do
    * (string/binary → bytes_list; integral/boolean → int64_list;
    * float → float_list, double downcast to float32; arrays
    * element-wise; NULL columns are ABSENT features, the TF
    * convention). Deterministic wire choices ([[TfRecordCodec
    * .encodeExample]]: packed lists, schema field order) make the
    * bytes reproducible across engines that choose the same — pinned
    * byte-identical against the independent Python writer in the
    * spec. Shards of `recordsPerShard` records land per partition as
    * `shard_<pid>_<i>.tfrecord`. */
  def writeTfRecordShards(df: DataFrame, dir: String, recordsPerShard: Int): Unit = {
    import org.apache.spark.sql.types._
    val fields: Array[(String, DataType)] =
      df.schema.fields.map(f => (f.name, f.dataType))
    commitShards(df, dir, "tfrecord", recordsPerShard) { (_, group) =>
      def scalar(dt: DataType, v: Any): Option[TfRecordCodec.Feature] = dt match {
        case StringType => Some(TfRecordCodec.Feature("bytes", Vector.empty,
          Vector.empty, Vector(v.asInstanceOf[String].getBytes("UTF-8"))))
        case BinaryType => Some(TfRecordCodec.Feature("bytes", Vector.empty,
          Vector.empty, Vector(v.asInstanceOf[Array[Byte]])))
        case LongType | IntegerType | ShortType | ByteType | BooleanType =>
          val l = v match {
            case b: Boolean => if (b) 1L else 0L
            case n: Number  => n.longValue()
          }
          Some(TfRecordCodec.Feature("int64", Vector(l), Vector.empty, Vector.empty))
        case FloatType => Some(TfRecordCodec.Feature("float", Vector.empty,
          Vector(java.lang.Float.floatToRawIntBits(v.asInstanceOf[Float])),
          Vector.empty))
        case DoubleType => Some(TfRecordCodec.Feature("float", Vector.empty,
          Vector(java.lang.Float.floatToRawIntBits(
            v.asInstanceOf[Double].toFloat)), Vector.empty))
        case _ => None
      }
      def feature(dt: DataType, v: Any): Option[TfRecordCodec.Feature] = dt match {
        case ArrayType(et, _) =>
          val elems = v.asInstanceOf[scala.collection.Seq[Any]]
            .flatMap(e => if (e == null) None else scalar(et, e))
          if (elems.isEmpty) None
          else Some(elems.reduce { (a, b) => TfRecordCodec.Feature(a.kind,
            a.ints ++ b.ints, a.floatBits ++ b.floatBits, a.bytess ++ b.bytess) })
        case dt => scalar(dt, v)
      }
      val out = new java.io.ByteArrayOutputStream()
      group.foreach { row =>
        val entries = fields.zipWithIndex.toSeq.flatMap { case ((n, dt), j) =>
          if (row.isNullAt(j)) None else feature(dt, row.get(j)).map(n -> _)
        }
        out.write(TfRecordCodec.frame(TfRecordCodec.encodeExample(entries)))
      }
      out.toByteArray
    }
  }

  /** safetensors shard sink — the embedding-dump layout downstream
    * training jobs actually mmap: per shard a stacked `embeddings`
    * F32 [n, dim] matrix plus an aligned `ids` I64 [n] vector,
    * grouped `rowsPerShard` per `shard_<pid>_<i>.safetensors` via
    * [[SafetensorsCodec.encode]] (canonical header — identical input,
    * identical bytes; spec-pinned byte-compatible with the Python
    * writer in tools/safetensors_golden.py). Expects (id: Long,
    * embedding: Array[Float]) rows with a uniform dimension. */
  def writeSafetensorsShards(df: DataFrame, dir: String, rowsPerShard: Int): Unit =
    commitShards(df.select(col("id").cast("long"), col("embedding")), dir,
        "safetensors", rowsPerShard) { (tag, group) =>
      val n = group.size
      val dim = group.head.getSeq[Float](1).length
      require(n.toLong * dim * 4 <= Int.MaxValue,
        s"shard too large: $n x $dim floats — lower rowsPerShard")
      val emb = java.nio.ByteBuffer.allocate(n * dim * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ids = java.nio.ByteBuffer.allocate(n * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      group.foreach { r =>
        val v = r.getSeq[Float](1)
        require(v.length == dim,
          s"ragged embedding: ${v.length} != $dim in shard $tag")
        v.foreach(emb.putFloat)
        ids.putLong(r.getLong(0))
      }
      SafetensorsCodec.encode(Seq(
        ("embeddings", "F32", Seq(n.toLong, dim.toLong), emb.array()),
        ("ids", "I64", Seq(n.toLong), ids.array())))
    }

  /** Arrow IPC (Feather V2) shard sink — the columnar sibling of
    * [[writeSafetensorsShards]]: per shard one record batch of
    * `id` int64 + `embedding` fixed_size_list<float32, dim>, grouped
    * `rowsPerShard` per `shard_<pid>_<i>.arrow` via
    * [[ArrowWrite.encodeFile]] (from-scratch flatbuffers builder;
    * pyarrow-readable — cross-validated in tools/arrow_golden.py).
    * Expects (id: Long, embedding: Array[Float]) rows with a uniform
    * dimension. */
  def writeArrowShards(df: DataFrame, dir: String, rowsPerShard: Int): Unit =
    commitShards(df.select(col("id").cast("long"), col("embedding")), dir,
        "arrow", rowsPerShard) { (tag, group) =>
      val n = group.size
      val dim = group.head.getSeq[Float](1).length
      require(n.toLong * dim * 4 <= Int.MaxValue,
        s"shard too large: $n x $dim floats — lower rowsPerShard")
      val ids = new Array[Long](n)
      val emb = new Array[Float](n * dim)
      group.zipWithIndex.foreach { case (r, k) =>
        ids(k) = r.getLong(0)
        val v = r.getSeq[Float](1)
        require(v.length == dim,
          s"ragged embedding: ${v.length} != $dim in shard $tag")
        var j = 0
        while (j < dim) { emb(k * dim + j) = v(j); j += 1 }
      }
      ArrowWrite.encodeFile(ids, emb, dim)
    }

  /** Arrow TEXT shard sink — the HF-bound (id: Long, text: String)
    * export sibling of [[writeArrowShards]]: per shard one record
    * batch of id int64 + text utf8 via [[ArrowWrite.encodeTextFile]]. */
  def writeArrowTextShards(df: DataFrame, dir: String, rowsPerShard: Int): Unit =
    commitShards(df.select(col("id").cast("long"), col("text").cast("string")), dir,
        "arrow", rowsPerShard) { (_, group) =>
      // id is the export's join key — a null one has no safe
      // default (0 would collide) and silent dropping would
      // desync row counts, so fail the job with a clear message
      // instead of the NPE getLong(0) would throw
      val ids = group.map { r =>
        if (r.isNullAt(0)) throw new IllegalArgumentException(
          "writeArrowTextShards: null id (ids must be non-null; " +
            "filter or assign before export)")
        r.getLong(0)
      }.toArray
      val txt = group.map(r =>
        Option(r.getString(1)).getOrElse("")).toArray
      ArrowWrite.encodeTextFile(ids, txt)
    }

  /** Compressed JSONL shard sink — the `.jsonl.gz` layout web-scale
    * text corpora ship in (the gzip member of the shard-sink family):
    * records land as JSON lines, grouped `recordsPerShard` per
    * `shard_<pid>_<i>.jsonl.gz` via [[GzipCodec.encode]] (MTIME=0 —
    * identical input, identical bytes). Expects (key, json) string
    * rows. */
  def writeJsonlGz(df: DataFrame, dir: String, recordsPerShard: Int): Unit =
    commitShards(df.select(col("key").cast("string"), col("json").cast("string")), dir,
        "jsonl.gz", recordsPerShard) { (tag, group) =>
      val payload = group.map(_.getString(1)).mkString("", "\n", "\n")
        .getBytes("UTF-8")
      GzipCodec.encode(s"shard_$tag.jsonl", payload)
    }

  /** Zstd-compressed JSONL shard sink — the `.jsonl.zst` layout
    * modern web corpora actually publish (RedPajama/Dolma/FineWeb),
    * the zstd sibling of [[writeJsonlGz]]: records land as JSON
    * lines, grouped `recordsPerShard` per `shard_<pid>_<i>.jsonl.zst`
    * via [[ZstdCodec.encode]] (single frame, deterministic bytes —
    * cross-read by pyarrow's zstd in tools/warc_golden.py). Expects
    * (key, json) string rows. */
  def writeJsonlZst(df: DataFrame, dir: String, recordsPerShard: Int): Unit =
    commitShards(df.select(col("key").cast("string"), col("json").cast("string")), dir,
        "jsonl.zst", recordsPerShard) { (_, group) =>
      val payload = group.map(_.getString(1)).mkString("", "\n", "\n")
        .getBytes("UTF-8")
      ZstdCodec.encode(payload)
    }

  /** WAV clip sink: one real RIFF/PCM container `clip_<id>.wav` per
    * row ([[WavCodec.encode]], byte-identical to Python `wave`) — the
    * audio member of the multimodal sink family. Expects
    * (clip_id: long, rate: int, channels: int, samples: array<int>). */
  def writeWavClips(df: DataFrame, dir: String): Unit =
    commit(df.select(col("clip_id").cast("long"), col("rate").cast("int"),
        col("channels").cast("int"), col("samples")), dir) { (_, rows) =>
      rows.map { r =>
        s"clip_${r.getLong(0)}.wav" -> WavCodec.encode(r.getInt(1), r.getInt(2),
          r.getSeq[Int](3).toArray)
      }
    }

  /** JPEG tile sink — the lossy-image member of the multimodal sink
    * family (web corpora ship JPEG): one real baseline JPEG
    * `tile_<id>.jpg` per row via the shared integer encode spec
    * ([[JpegCodec.encode]], byte-pinned against an independent Python
    * integer encoder), so the sink's bytes are REPRODUCIBLE —
    * re-running the job emits identical files, which is what makes a
    * 100 TB image-shard write verifiable. Expects (tile_id: long,
    * width: int, height: int, channels: int (1|3), pixels: binary
    * row-major interleaved). */
  def writeJpegTiles(df: DataFrame, dir: String): Unit =
    commit(df.select(col("tile_id").cast("long"), col("width").cast("int"),
        col("height").cast("int"), col("channels").cast("int"), col("pixels")), dir) {
      (_, rows) =>
        rows.map { r =>
          s"tile_${r.getLong(0)}.jpg" -> JpegCodec.encode(r.getInt(1), r.getInt(2),
            r.getInt(3), r.getAs[Array[Byte]](4))
        }
    }

  /** PNG tile sink — the viz/export member of the multimodal sink
    * family (the reference plots rasters to PNG in its notebooks; web
    * corpora ship PNG members in webdataset tars): one real PNG
    * `tile_<id>.png` (signature, CRC'd chunks, zlib scanlines —
    * [[PngCodec.encode]], decoder-pinned against a foreign Python
    * writer) per row. Expects (tile_id: long, width: int, height: int,
    * channels: int, pixels: binary) with pixels row-major
    * channel-interleaved. */
  def writePngTiles(df: DataFrame, dir: String): Unit =
    commit(df.select(col("tile_id").cast("long"), col("width").cast("int"),
        col("height").cast("int"), col("channels").cast("int"), col("pixels")), dir) {
      (_, rows) =>
        rows.map { r =>
          s"tile_${r.getLong(0)}.png" -> PngCodec.encode(r.getInt(1), r.getInt(2),
            r.getInt(3), r.getAs[Array[Byte]](4))
        }
    }

  /** NetCDF classic sink: one real CDF-1 `<group_id>.nc` prediction
    * dataset per group — the reference's per-test-instance
    * `ds.to_netcdf` sink (cropharvest_eval.py:213-218) as a
    * distributed write ([[NetcdfCodec.encode]], byte-pinned against an
    * independent Python CDF-1 writer). Expects (group_id: string,
    * lat: array<double>, lon: array<double>, preds: array<double>),
    * aligned arrays per row. */
  def writeNetcdfFiles(df: DataFrame, dir: String): Unit =
    commit(df.select(col("group_id").cast("string"), col("lat"), col("lon"),
        col("preds")), dir) { (_, rows) =>
      rows.map { r =>
        val gid = r.getString(0)
        // the group id becomes a FILENAME: a data-supplied "../x" or
        // "a/b" must fail loudly here, not escape the sink directory
        require(gid.nonEmpty && gid.forall(c =>
            c < 0x80 && (c.isLetterOrDigit || c == '.' || c == '_' || c == '-')) &&
            gid != "." && gid != "..",
          s"group id '$gid' is not a safe filename component")
        val lat = r.getSeq[Double](1).toArray
        val lon = r.getSeq[Double](2).toArray
        val preds = r.getSeq[Double](3).toArray
        require(lat.length == lon.length && lon.length == preds.length,
          s"group $gid: unaligned lat/lon/preds arrays")
        // a 0-length dim means a record dim in CDF-1, which our own
        // reader refuses — an empty group must fail the WRITE loudly
        // rather than silently vanish under the corrupt-shard skip
        require(lat.nonEmpty, s"group $gid: empty prediction set")
        val nc = NetcdfCodec.Nc(
          dims = Seq(NetcdfCodec.Dim("instance", lat.length),
            NetcdfCodec.Dim("idlen", gid.length)),
          gatts = Seq(NetcdfCodec.Attr("title", "graft predictions")),
          vars = Seq(
            NetcdfCodec.Variable("lat", Array(0),
              Seq(NetcdfCodec.Attr("units", "degrees_north")),
              NetcdfCodec.DoubleData(lat)),
            NetcdfCodec.Variable("lon", Array(0),
              Seq(NetcdfCodec.Attr("units", "degrees_east")),
              NetcdfCodec.DoubleData(lon)),
            NetcdfCodec.Variable("preds", Array(0), Nil,
              NetcdfCodec.DoubleData(preds)),
            NetcdfCodec.Variable("test_id", Array(1), Nil,
              NetcdfCodec.CharData(gid))))
        s"$gid.nc" -> NetcdfCodec.encode(nc)
      }
    }


  /** Small-file compaction — the table-maintenance pass every
    * long-running lake needs: a directory that accumulated many small
    * parquet files (per-trigger streaming appends, over-parallel
    * writes) is rewritten at a target file count, preserving rows
    * exactly. Returns (files_before, files_after). The rewrite goes
    * through a temp dir + two-step swap. The swap is NOT atomic: for
    * the instant between the two moves the table dir is absent, and a
    * crash in that window leaves the data in `_precompact` — so this
    * run first SELF-HEALS: a leftover `_compacting` (crashed before
    * the swap) is deleted and redone; a leftover `_precompact` with
    * the table dir present is stale debris and deleted; `_precompact`
    * present WITHOUT the table dir is the crash-window state and is
    * moved back before compacting. Rows are therefore never lost, and
    * a re-run always converges — but readers racing the swap can see
    * a transient missing dir, which is why at 100 TB this runs per
    * finalized partition (no concurrent readers), never over a live
    * whole table. */
  def compact(spark: SparkSession, dir: String, targetFiles: Int): (Int, Int) = {
    def parquetFiles(d: String): Array[java.io.File] = {
      val fs = new java.io.File(d).listFiles((_, n) => n.endsWith(".parquet"))
      if (fs == null)
        throw new IllegalArgumentException(s"compact(): $d is not a readable directory")
      fs
    }
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmrf)
      f.delete(): Unit
    }
    val tmp = dir + "_compacting"
    val old = dir + "_precompact"
    // self-heal debris from a crashed or interrupted earlier run
    if (Files.exists(Paths.get(tmp))) rmrf(new java.io.File(tmp))
    if (Files.exists(Paths.get(old))) {
      if (Files.exists(Paths.get(dir))) rmrf(new java.io.File(old)) // stale backup
      else Files.move(Paths.get(old), Paths.get(dir)): Unit // crash-window restore
    }
    val before = parquetFiles(dir).length
    spark.read.parquet(dir).repartition(targetFiles)
      .write.mode("overwrite").parquet(tmp)
    Files.move(Paths.get(dir), Paths.get(old))
    Files.move(Paths.get(tmp), Paths.get(dir))
    rmrf(new java.io.File(old))
    (before, parquetFiles(dir).length)
  }

  /** JSON manifest: per-partition row counts written next to the
    * data (the generate_metadata sidecar, as a queryable table). */
  def writeManifest(spark: SparkSession, dataPath: String, manifestPath: String,
                    partitionCols: Seq[String]): Unit =
    spark.read.parquet(dataPath)
      .groupBy(partitionCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode("overwrite").json(manifestPath)
}
