package graft.sources

/** Zstandard (RFC 8878) shard envelope — the compression modern web
  * corpora actually ship in: RedPajama/Dolma/FineWeb-class text dumps
  * are `.jsonl.zst`, and Common Crawl moved its indexes to zstd. The
  * reference's shard idea is the uncompressed webdataset tar
  * (dataops/dataset.py:31,258-278); this is the same shard discipline
  * under the wire codec production corpora use today.
  *
  * The frame transform itself is Spark's own bundled libzstd binding
  * (`com.github.luben.zstd`, on every executor classpath — the same
  * "JDK zlib" precedent as [[GzipCodec]]'s deflate): what THIS codec
  * owns is the container contract, probed empirically against the
  * binding and pinned by [[ZstdCodecSpec]]:
  *  - multi-frame files (zstd CLI `cat a.zst b.zst`, frame-per-block
  *    writers) concatenate transparently;
  *  - skippable frames (magic 0x184D2A5x) are skipped;
  *  - truncated frames, trailing garbage, and bad magics raise inside
  *    the binding and decode to None — the corrupt-skip contract, one
  *    bad shard costs its file, never the scan;
  *  - total inflated bytes are capped at [[Compression.MaxInflatedBytes]]
  *    (a 100-byte zstd bomb can legally inflate to GBs; an executor
  *    decoding several concurrently must stay memory-bounded).
  */
object ZstdCodec {

  /** Encode one frame (used by round-trip specs and deterministic
    * shard writers; level 3 = zstd default). Single-shot, so the
    * frame header carries the CONTENT SIZE — what downstream
    * one-shot decompressors (pyarrow among them) need to allocate;
    * the streaming OutputStream API would omit it. */
  def encode(data: Array[Byte], level: Int = 3): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(data, level)

  /** Decode a zstd FILE — one or more back-to-back frames, skippable
    * frames allowed anywhere. None on empty input, truncation, CRC /
    * frame-structure violations, trailing garbage, or past the
    * inflation cap — never throws. */
  def decode(bytes: Array[Byte],
             maxOut: Int = Compression.MaxInflatedBytes): Option[Array[Byte]] =
    if (bytes.length < 4) None
    else Compression.drain(new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
      new java.io.ByteArrayInputStream(bytes)), maxOut)
}
