package graft

import java.nio.file.{Files, Paths}
import graft.sources.{GeoIngest, NpyCodec, Sinks}

class NpyCodecSpec extends SparkSpec {

  /** `np.save` output for np.array([[1.5,-2.25,3.0],[0.0,4.5,-1.0]],
    * dtype='<f4') — generated with numpy 1.x, pinned as the
    * cross-implementation golden: our encoder must be byte-identical
    * and our decoder must read the real thing, not just its own
    * output. */
  private val goldenF4: Array[Byte] = Array[Int](
    -109, 78, 85, 77, 80, 89, 1, 0, 118, 0, 123, 39, 100, 101, 115, 99, 114,
    39, 58, 32, 39, 60, 102, 52, 39, 44, 32, 39, 102, 111, 114, 116, 114,
    97, 110, 95, 111, 114, 100, 101, 114, 39, 58, 32, 70, 97, 108, 115, 101,
    44, 32, 39, 115, 104, 97, 112, 101, 39, 58, 32, 40, 50, 44, 32, 51, 41,
    44, 32, 125, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32,
    32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32,
    32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32,
    32, 32, 32, 32, 32, 32, 32, 10, 0, 0, -64, 63, 0, 0, 16, -64, 0, 0, 64,
    64, 0, 0, 0, 0, 0, 0, -112, 64, 0, 0, -128, -65).map(_.toByte)

  /** np.save of np.array([7, -3, 2**40], dtype='<i8'). */
  private val goldenI8: Array[Byte] = Array[Int](
    -109, 78, 85, 77, 80, 89, 1, 0, 118, 0, 123, 39, 100, 101, 115, 99, 114,
    39, 58, 32, 39, 60, 105, 56, 39, 44, 32, 39, 102, 111, 114, 116, 114,
    97, 110, 95, 111, 114, 100, 101, 114, 39, 58, 32, 70, 97, 108, 115, 101,
    44, 32, 39, 115, 104, 97, 112, 101, 39, 58, 32, 40, 51, 44, 41, 44, 32,
    125, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32,
    32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32,
    32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32,
    32, 32, 32, 32, 32, 32, 32, 10, 7, 0, 0, 0, 0, 0, 0, 0, -3, -1, -1, -1,
    -1, -1, -1, -1, 0, 0, 0, 0, 0, 1, 0, 0).map(_.toByte)

  /** np.save of np.array([0.5, -0.25], dtype='<f8'). */
  private val goldenF8: Array[Byte] = Array[Int](
    -109, 78, 85, 77, 80, 89, 1, 0, 118, 0, 123, 39, 100, 101, 115, 99, 114,
    39, 58, 32, 39, 60, 102, 56, 39, 44, 32, 39, 102, 111, 114, 116, 114,
    97, 110, 95, 111, 114, 100, 101, 114, 39, 58, 32, 70, 97, 108, 115, 101,
    44, 32, 39, 115, 104, 97, 112, 101, 39, 58, 32, 40, 50, 44, 41, 44, 32,
    125, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32,
    32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32,
    32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32, 32,
    32, 32, 32, 32, 32, 32, 32, 10, 0, 0, 0, 0, 0, 0, -32, 63, 0, 0, 0, 0,
    0, 0, -48, -65).map(_.toByte)

  test("encodeF4 is byte-identical to numpy's np.save") {
    val mine = NpyCodec.encodeF4(2, 3,
      Array(1.5f, -2.25f, 3.0f, 0.0f, 4.5f, -1.0f))
    assert(mine.toSeq == goldenF4.toSeq,
      s"encoder diverges from numpy at byte ${
        mine.toSeq.zip(goldenF4.toSeq).indexWhere { case (a, b) => a != b }}")
  }

  test("decode reads real numpy output across the supported dtypes") {
    val f4 = NpyCodec.decode(goldenF4).get
    assert(f4.shape == Seq(2, 3) && f4.descr == "<f4")
    assert(f4.values.toSeq == Seq(1.5, -2.25, 3.0, 0.0, 4.5, -1.0))
    val i8 = NpyCodec.decode(goldenI8).get
    assert(i8.shape == Seq(3) && i8.values.toSeq == Seq(7.0, -3.0, math.pow(2, 40)))
    val f8 = NpyCodec.decode(goldenF8).get
    assert(f8.shape == Seq(2) && f8.values.toSeq == Seq(0.5, -0.25))
  }

  test("decode refuses what it cannot faithfully represent") {
    assert(NpyCodec.decode("notanpy".getBytes("US-ASCII")).isEmpty, "bad magic")
    assert(NpyCodec.decode(goldenF4.dropRight(4)).isEmpty, "truncated buffer")
    val fortran = new String(goldenF4, 10, 118, "US-ASCII")
      .replace("False", "True ")
    val fBytes = goldenF4.clone()
    fortran.getBytes("US-ASCII").copyToArray(fBytes, 10)
    assert(NpyCodec.decode(fBytes).isEmpty, "fortran order must be refused")
    val u2 = goldenF4.clone()
    "{'descr': '<u2', ".getBytes("US-ASCII").copyToArray(u2, 10)
    assert(NpyCodec.decode(u2).isEmpty, "unsupported dtype must be refused")
    // adversarial oversized dim: all-digits but > Int.MaxValue — must
    // map to None (the documented contract), never NumberFormatException
    def withHeader(h: String): Array[Byte] = {
      val header = (h + " " * ((64 - (h.length + 11) % 64) % 64) + "\n")
        .getBytes("US-ASCII")
      val out = new Array[Byte](10 + header.length)
      Array[Int](-109, 78, 85, 77, 80, 89, 1, 0).map(_.toByte).copyToArray(out)
      out(8) = (header.length & 0xff).toByte
      out(9) = ((header.length >> 8) & 0xff).toByte
      header.copyToArray(out, 10)
      out
    }
    assert(NpyCodec.decode(withHeader(
      "{'descr': '<f4', 'fortran_order': False, 'shape': (99999999999,), }"))
      .isEmpty, "oversized shape dim must be refused, not throw")
    assert(NpyCodec.decode(withHeader(
      "{'descr': '<f4', 'fortran_order': False, 'shape': (١٢,), }"))
      .isEmpty, "Unicode-digit shape dim must be refused, not throw")
  }

  test("npy sink writes real containers the distributed source round-trips") {
    import spark.implicits._
    val tiles = Seq(
      (1L, 2, 2, Array(1.0f, 2.0f, 3.0f, 4.0f)),
      (2L, 3, 0, Array(-1.0f, 0.5f, 9.0f))) // cols=0 → 1-D
      .toDF("tile_id", "rows", "cols", "values")
      .repartition(2)
    val dir = Files.createTempDirectory("graft_npy").toString
    Sinks.writeNpyTiles(tiles, dir)
    assert(Files.exists(Paths.get(dir, "_SUCCESS")))
    // a corrupt file must be skipped, not kill the scan
    Files.write(Paths.get(dir, "tile_99.npy"), "garbage".getBytes("US-ASCII"))
    // a 20-digit (> Long.MaxValue) tile id must map to -1, not throw
    Files.write(Paths.get(dir, "tile_99999999999999999999.npy"),
      NpyCodec.encodeF4(1, 0, Array(5.0f)))
    val back = GeoIngest.npy.read(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getSeq[Double](2)))).toMap
    assert(back.keySet == Set(1L, 2L, -1L), s"unexpected tiles: ${back.keySet}")
    assert(back(1L) == ((Seq(2, 2), Seq(1.0, 2.0, 3.0, 4.0))))
    assert(back(2L) == ((Seq(3), Seq(-1.0, 0.5, 9.0))))
  }

  test("hostile bytes never throw: every truncation and flip, digest-pinned") {
    val d = FuzzDigest.sweep(goldenF4)(NpyCodec.decode)
    assert(d == "304/91:aa58de75949e5128", d)
  }
}
