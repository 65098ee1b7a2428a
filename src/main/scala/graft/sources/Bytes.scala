package graft.sources

/** The one home for the `sources` codecs' byte readers and their
  * failure signal.
  *
  * Every codec promises None on a hostile file, never a throw. Inside
  * a decode, a structural fault calls `refuse()`, and the entry point
  * wraps its work in `refusing`, which turns that one signal into None.
  * Every reader takes `(bytes, pos: Long)`, checks `pos >= 0` and
  * `pos + n <= bytes.length` (in Long arithmetic, so a position past
  * 2^31 refuses instead of truncating), and refuses or returns the
  * unsigned value. Readers of width 4 and up return Long.
  *
  * Two documented exceptions return a sentinel instead of refusing,
  * because their callers branch on it: `Hdf5Codec`'s own readers, and
  * the TIFF decoders in `operators.MultimodalOps`, which wrap these
  * readers in a -1 sentinel. */
object Bytes {

  /** The refusal signal: a stackless singleton, so throwing it costs
    * no allocation and no stack walk. */
  object Refused extends RuntimeException(null, null, false, false)

  def refuse(): Nothing = throw Refused

  /** Some(body), or None if body refused. Any other exception passes
    * through, so a codec that also maps library failures to None says
    * so at its own entry point. */
  def refusing[A](body: => A): Option[A] =
    try Some(body) catch { case Refused => None }

  @inline private def at(b: Array[Byte], p: Long, n: Int): Int = {
    if (p < 0 || p > b.length.toLong - n) refuse()
    p.toInt
  }

  def u8(b: Array[Byte], p: Long): Int = b(at(b, p, 1)) & 0xff

  def le16(b: Array[Byte], p: Long): Int = {
    val i = at(b, p, 2)
    (b(i) & 0xff) | (b(i + 1) & 0xff) << 8
  }
  def be16(b: Array[Byte], p: Long): Int = {
    val i = at(b, p, 2)
    (b(i) & 0xff) << 8 | (b(i + 1) & 0xff)
  }
  def le24(b: Array[Byte], p: Long): Int = leN(b, p, 3).toInt
  def be24(b: Array[Byte], p: Long): Int = beN(b, p, 3).toInt
  def le32(b: Array[Byte], p: Long): Long = leN(b, p, 4)
  def be32(b: Array[Byte], p: Long): Long = beN(b, p, 4)
  def le64(b: Array[Byte], p: Long): Long = leN(b, p, 8)
  def be64(b: Array[Byte], p: Long): Long = beN(b, p, 8)

  /** Unsigned little-endian `n`-byte value, 0 <= n <= 8 (n = 8 wraps
    * into the sign bit). */
  def leN(b: Array[Byte], p: Long, n: Int): Long = {
    val i = at(b, p, n)
    var v = 0L; var j = 0
    while (j < n) { v |= (b(i + j) & 0xffL) << (8 * j); j += 1 }
    v
  }

  /** Unsigned big-endian `n`-byte value, 0 <= n <= 8. */
  def beN(b: Array[Byte], p: Long, n: Int): Long = {
    val i = at(b, p, n)
    var v = 0L; var j = 0
    while (j < n) { v = (v << 8) | (b(i + j) & 0xffL); j += 1 }
    v
  }

  /** TIFF-style readers whose byte order comes from the file header. */
  def u16(b: Array[Byte], p: Long, le: Boolean): Int =
    if (le) le16(b, p) else be16(b, p)
  def u32(b: Array[Byte], p: Long, le: Boolean): Long =
    if (le) le32(b, p) else be32(b, p)

  /** Four ASCII bytes as a String (chunk and box types). */
  def fourcc(b: Array[Byte], p: Long): String =
    new String(b, at(b, p, 4), 4, java.nio.charset.StandardCharsets.US_ASCII)
}
