package graft.sources

/** bzip2 codec — the compression the long-tail of public corpora
  * still ships in: Wikipedia dumps, pushshift archives, many academic
  * crawls are `.jsonl.bz2`/`.xml.bz2`. Sibling of [[GzipCodec]] and
  * [[ZstdCodec]] in the compressed-shard family; like the Avro path,
  * the block decode itself is the PLATFORM implementation (Apache
  * commons-compress `BZip2CompressorInputStream`, already on Spark's
  * own classpath) behind this codec's framing/refusal contract:
  * magic+level gate, concatenated multi-stream support (the pbzip2 /
  * `cat a.bz2 b.bz2` shape — decompressConcatenated, with trailing
  * garbage refused by the stream's own next-header check), an
  * inflation cap shared with the gzip family, and whole-file None on
  * any fault. Never throws. */
object Bz2Codec {

  /** Decompress a `.bz2` object (all concatenated streams), or None
    * on bad magic, corrupt data, trailing garbage, or cap breach. */
  def decode(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (bytes.length < 10 || bytes(0) != 'B' || bytes(1) != 'Z' ||
        bytes(2) != 'h' || bytes(3) < '1' || bytes(3) > '9') return None
    Compression.drain(new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorInputStream(new java.io.ByteArrayInputStream(bytes), true))
  }
}
