package graft.sources

/** The one home for the codecs' byte readers and writers and the
  * readers' failure signal: every `sources` codec and the TIFF codec in
  * `operators.MultimodalOps` read and write multi-byte integers here
  * (bulk `java.nio.ByteBuffer` encodes and `Hdf5Codec.lookup3`, a
  * checksum kernel over a range its caller has bounded, aside).
  *
  * Every decoder promises None on a hostile file, never a throw. Inside
  * a decode, a structural fault calls `refuse()`, and the entry point
  * wraps its work in `refusing`, which turns that one signal into None.
  * Every reader takes `(bytes, pos: Long)`, checks `pos >= 0` and
  * `pos + n <= bytes.length` (in Long arithmetic, so a position past
  * 2^31 refuses instead of truncating), and refuses or returns the
  * unsigned value. Readers of width 4 and up return Long. No reader
  * returns a sentinel: a read past the end is a refusal, never a value
  * a caller could mistake for one in the file.
  *
  * The writers store the low `n` bytes of `v` (0 <= n <= 8): `putLe`
  * and `putBe` into an array at `at`, `le` and `be` as a new array. A
  * writer never refuses, because the encoder computes where it writes;
  * an out-of-range `at` is a program bug and throws. */
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

  def putLe(b: Array[Byte], at: Int, v: Long, n: Int): Unit = {
    var j = 0
    while (j < n) { b(at + j) = (v >>> (8 * j)).toByte; j += 1 }
  }
  def putBe(b: Array[Byte], at: Int, v: Long, n: Int): Unit = {
    var j = 0
    while (j < n) { b(at + j) = (v >>> (8 * (n - 1 - j))).toByte; j += 1 }
  }
  def le(v: Long, n: Int): Array[Byte] = { val b = new Array[Byte](n); putLe(b, 0, v, n); b }
  def be(v: Long, n: Int): Array[Byte] = { val b = new Array[Byte](n); putBe(b, 0, v, n); b }

  /** Four ASCII bytes as a String (chunk and box types). */
  def fourcc(b: Array[Byte], p: Long): String =
    new String(b, at(b, p, 4), 4, java.nio.charset.StandardCharsets.US_ASCII)
}
