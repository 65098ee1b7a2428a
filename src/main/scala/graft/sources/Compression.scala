package graft.sources

import java.util.zip.{DataFormatException, Deflater, Inflater}

/** The one home for the codecs' compression streams: every `sources`
  * codec and the TIFF codec in `operators.MultimodalOps` inflates,
  * deflates and drains a decompressing stream here, under one ceiling
  * and one acceptance rule.
  *
  * A deflate stream is accepted only when the inflater reports its end
  * after producing at most `limit` bytes. Truncated input, a
  * preset-dictionary header, corrupt data (a bad adler32 trailer
  * included) and a byte beyond `limit` all answer None, never a throw.
  * A caller that knows its exact output size passes it as `limit`
  * with `exact`. */
object Compression {

  /** Ceiling on total inflated bytes per file. A scan over untrusted
    * buckets must bound memory per task: a 42 KB zip-bomb member can
    * legally inflate to 4 GB, and an executor decoding a few of those
    * concurrently dies. 256 MiB comfortably covers real corpus shards
    * (Common-Crawl WET shards inflate to ~300-400 MB *compressed at
    * ~1 GB files*; per-document shards here are KB-scale) while
    * keeping worst-case task memory bounded. Oversized files decode
    * to None — the skip contract, not an OOM. A codec that inflates
    * several streams from one file passes what is left of this as
    * each stream's `limit`. */
  val MaxInflatedBytes: Int = 256 << 20

  /** A zlib inflater (`raw`: headerless deflate) for a caller that
    * inflates many streams through it; the caller ends it. */
  def inflater(raw: Boolean = false): Inflater = new Inflater(raw)

  /** Inflate `len` bytes of `src` from `off` through a fresh inflater.
    * With `exact`, the stream must produce exactly `limit` bytes, and
    * the output is that one allocation: no growth and no trim copy.
    * Otherwise the output buffer starts near four times the input and
    * doubles up to `limit`. */
  def inflate(src: Array[Byte], off: Int, len: Int, limit: Int,
      raw: Boolean = false, exact: Boolean = false): Option[Array[Byte]] = {
    val inf = inflater(raw)
    try inflate(inf, src, off, len, limit, exact) finally inf.end()
  }

  /** [[inflate]] through a caller-owned inflater, reset first. After a
    * Some, `inf.getRemaining` counts the input bytes past the stream's
    * end. */
  def inflate(inf: Inflater, src: Array[Byte], off: Int, len: Int, limit: Int,
      exact: Boolean): Option[Array[Byte]] = {
    inf.reset()
    inf.setInput(src, off, len)
    var out = new Array[Byte](
      if (exact) limit else math.min(limit, math.min(4L * len, 1 << 20).toInt))
    var n = 0
    try {
      while (!inf.finished()) {
        if (n == out.length && n < limit)
          out = java.util.Arrays.copyOf(out, math.min(limit.toLong, 2L * n + 8192).toInt)
        // at the limit, a one-byte probe: the stream must end without it
        val r =
          if (n < limit) inf.inflate(out, n, out.length - n)
          else inf.inflate(new Array[Byte](1))
        // no output and no end: truncated input or a preset dictionary
        if ((r == 0 && !inf.finished()) || n + r > limit) return None
        n += r
      }
    } catch { case _: DataFormatException => return None }
    if (n == out.length) Some(out)
    else if (exact) None
    else Some(java.util.Arrays.copyOf(out, n))
  }

  /** Deflate `data` at the default level into `out`: a zlib stream, or
    * with `raw` a headerless one. Deterministic: the same bytes in give
    * the same bytes out. */
  def deflate(data: Array[Byte], out: java.io.OutputStream,
      raw: Boolean = false): Unit = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, raw)
    try {
      d.setInput(data); d.finish()
      val buf = new Array[Byte](8192)
      while (!d.finished()) { val n = d.deflate(buf); out.write(buf, 0, n) }
    } finally d.end()
  }

  /** Read the stream `open` gives to its end, or None once it passes
    * `limit` bytes or on any failure to open or read it (a decoding
    * stream's corrupt-input exceptions included) — never a throw. The
    * stream is closed either way. */
  def drain(open: => java.io.InputStream,
      limit: Int = MaxInflatedBytes): Option[Array[Byte]] =
    try {
      val in = open
      try {
        val out = new java.io.ByteArrayOutputStream(8192)
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) {
          if (out.size.toLong + n > limit) return None
          out.write(buf, 0, n)
          n = in.read(buf)
        }
        Some(out.toByteArray)
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
}
