package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.operators.ExactSuffStats

/** Property-based invariants (SURVEY §5 test plan item 2). Pure
  * properties run without Spark jobs; plan-level invariants batch
  * into single jobs. */
class PropertySpec extends SparkSpec {

  /** Deterministic sampling from ScalaCheck generators (the
    * scalatest-scalacheck bridge is not on the offline classpath). */
  private def forSamples[A](g: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    (1 to n).foreach { _ =>
      f(g.pureApply(Gen.Parameters.default, seed))
      seed = seed.next
    }
  }

  test("bitmask-conjunction fold is semantically equivalent for all k, m, n") {
    val g = for {
      k <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
      m <- Gen.chooseNum(0L, Long.MaxValue)
      n <- Gen.chooseNum(0L, Long.MaxValue)
    } yield (k, m, n)
    forSamples(g) { case (k, m, n) =>
      val unfolded = ((k & m) == 0L) && ((k & n) == 0L)
      val folded = (k & (m | n)) == 0L
      assert(unfolded == folded)
    }
  }

  test("ExactSuffStats is split-invariant: any partitioning merges to the same buffer") {
    val cents = Gen.chooseNum(-99999, 99999)
    val g = for {
      cs <- Gen.listOf(cents)
      cut <- Gen.chooseNum(0, 100)
    } yield (cs, cut)
    forSamples(g) { case (csRaw, cut) =>
      val xs = csRaw.map(_ / 100.0) // exact 2-decimal doubles
      val whole = xs.foldLeft(ExactSuffStats.zero)(ExactSuffStats.reduce)
      val k = if (xs.isEmpty) 0 else cut % (xs.length + 1)
      val (l, r) = xs.splitAt(k)
      val merged = ExactSuffStats.merge(
        l.foldLeft(ExactSuffStats.zero)(ExactSuffStats.reduce),
        r.foldLeft(ExactSuffStats.zero)(ExactSuffStats.reduce))
      assert(whole == merged)
      // merge is commutative too
      assert(merged == ExactSuffStats.merge(
        r.foldLeft(ExactSuffStats.zero)(ExactSuffStats.reduce),
        l.foldLeft(ExactSuffStats.zero)(ExactSuffStats.reduce)))
    }
  }

  test("ExactSuffStats variance is non-negative and mean is exact") {
    forSamples(Gen.nonEmptyListOf(Gen.chooseNum(-99999, 99999))) { csRaw =>
      val xs = csRaw.map(_ / 100.0)
      val r = ExactSuffStats.finish(xs.foldLeft(ExactSuffStats.zero)(ExactSuffStats.reduce))
      assert(r.n == xs.length)
      assert(r.variance >= -1e-9) // E[x^2] - mean^2 in doubles
    }
  }

  test("pad/clip always yields exactly 12 positions preserving the sorted prefix") {
    import spark.implicits._
    // group sizes 1..30 exercise both the pad (<12) and clip (>12) branches
    val rows = for (g <- 1 to 30; i <- 1 to g) yield (g.toLong, i.toLong, i * 1.5)
    val df = rows.toDF("grp", "ord", "v")
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(struct(col("ord"), col("v")))).as("s"))
      .withColumn("arr", expr("transform(s, x -> x.v)"))
      .withColumn("padded",
        when(size(col("arr")) < 12,
          concat(col("arr"), expr("array_repeat(arr[0], 12 - size(arr))")))
        .otherwise(slice(col("arr"), 1, 12)))
    val out = df.select(col("grp"), col("padded")).as[(Long, Seq[Double])].collect()
    assert(out.length == 30)
    out.foreach { case (g, p) =>
      assert(p.length == 12, s"group $g size ${p.length}")
      val expectPrefix = (1 to math.min(g.toInt, 12)).map(_ * 1.5)
      assert(p.take(expectPrefix.length) == expectPrefix)
      if (g < 12) assert(p.drop(g.toInt).forall(_ == 1.5)) // padded with first element
    }
  }

  test("KNN band partition is pigeonhole-complete at every corpus-scaled width") {
    // the PRODUCTION band layout (MlQueries.bandsExpr at runtime width
    // bw = bandWidthFor(n) ∈ [3,10]), evaluated by Spark over every
    // sampled pair in one job — a layout change re-proves (or fails)
    // the completeness theorem here, never a stale mirror
    import spark.implicits._
    val samples = (3 to 10).flatMap { w =>
      val bits = 6 * w
      val g = for {
        sig <- Gen.chooseNum(0L, (1L << bits) - 1)
        nFlips <- Gen.chooseNum(0, 5)
        flips <- Gen.listOfN(nFlips, Gen.chooseNum(0, bits - 1))
      } yield (sig, flips)
      val out = Seq.newBuilder[(Int, Long, Long)]
      forSamples(g, n = 40) { case (sig, flips) =>
        val other = flips.foldLeft(sig)((s, b) => s ^ (1L << b))
        assert(java.lang.Long.bitCount(sig ^ other) <= 5)
        out += ((w, sig, other))
      }
      out.result()
    }
    val bands = graft.queries.MlQueries.bandsExpr
    val got = samples.toDF("bw", "sig", "other")
      .select(col("bw"), col("sig"), col("other"),
        expr(bands).getField("bucket").as("a"),
        expr(bands.replace("sig", "other")).getField("bucket").as("b"))
      .as[(Int, Long, Long, Seq[Long], Seq[Long])].collect()
    assert(got.length == samples.length)
    got.foreach { case (w, sig, other, a, b) =>
      assert(a.length == 6 && b.length == 6, s"w=$w: ${a.length} bands")
      assert((a ++ b).forall(k => k >= 0 && k < (1L << w)), s"w=$w bucket out of range")
      assert(a.zip(b).exists { case (x, y) => x == y },
        s"w=$w pair within hamming 5 shares no band: $sig vs $other")
    }
    // the width rule itself: integer thresholds == ceil(log2 n) - 7
    def ceilLog2(n: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    for (n <- Seq(1L, 2L, 500L, 1024L, 1025L, 2000L, 2048L, 2049L, 20000L,
        65536L, 65537L, 1000000L)) {
      val expect = math.min(10, math.max(3, if (n <= 1) 3 else ceilLog2(n) - 7))
      assert(graft.queries.MlQueries.bandWidthFor(n) == expect, s"n=$n")
    }
  }

  test("omerc roundtrip is identity to 1e-9 degrees for random points across the AOI") {
    val g = for {
      aLon <- Gen.chooseNum(-17.5, -11.5)
      aLat <- Gen.chooseNum(12.0, 16.9)
      dLon <- Gen.chooseNum(-0.8, 0.8)
      dLat <- Gen.chooseNum(-0.8, 0.8)
    } yield (aLon, aLat, dLon, dLat)
    forSamples(g, n = 200) { case (aLon, aLat, dLon, dLat) =>
      val p = graft.functions.Omerc(aLon, aLat)
      val (x, y) = p.forward(aLon + dLon, aLat + dLat)
      val (lon2, lat2) = p.inverse(x, y)
      assert(math.abs(lon2 - (aLon + dLon)) < 1e-9, s"lon $aLon $aLat $dLon $dLat")
      assert(math.abs(lat2 - (aLat + dLat)) < 1e-9, s"lat $aLon $aLat $dLon $dLat")
    }
  }

  test("terrain outputs stay in range for arbitrary gradients") {
    import spark.implicits._
    import graft.functions.TerrainOps
    val grads = for (i <- -100 to 100) yield (i / 10.0, ((i * 7) % 100) / 10.0)
    val out = grads.toDF("dzdx", "dzdy").select(
      TerrainOps.slopeDeg(col("dzdx"), col("dzdy")).as("s"),
      TerrainOps.aspectDeg(col("dzdx"), col("dzdy")).as("a"),
      TerrainOps.hillshade(col("dzdx"), col("dzdy")).as("h")).collect()
    for (r <- out) {
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) < 90.0)
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) < 360.0)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 255.0)
    }
  }

  test("all 17 normalized-difference-style indices stay in [-1,1] for positive bands") {
    import spark.implicits._
    val bands = for (i <- 1 to 200) yield
      (1.0 + i % 17, 2.0 + i % 13, 1.0 + i % 11, 1.0 + i % 7, 3.0 + i % 19, 1.0 + i % 5, 2.0 + i % 23)
    val df = bands.toDF("blue", "green", "red", "redEdge", "nir", "swir1", "swir2")
    // arvi is excluded: its pseudo-band (2*red - blue) may flip sign, so it
    // is not range-bounded — matching the reference's unguarded formula
    val ndCols = Seq("ndvi", "gndvi", "ndre", "ndmi", "mndwi", "ndwi", "ndbi", "nbwi", "bsi")
    val idx = graft.functions.VegIndices.columns("blue", "green", "red", "redEdge", "nir", "swir1", "swir2")
    val out = df.select(idx: _*).select(ndCols.map(col): _*)
    val bad = out.filter(ndCols.map(c => col(c) < -1.0 || col(c) > 1.0).reduce(_ || _)).count()
    assert(bad == 0)
  }

  test("property: gzip encode->decode round-trips arbitrary payloads and names") {
    import graft.sources.GzipCodec
    val gen = for {
      n <- Gen.chooseNum(0, 5000)
      bytes <- Gen.containerOfN[Array, Byte](n, Gen.chooseNum(-128, 127).map(_.toByte))
      name <- Gen.oneOf("", "a.jsonl", "shard_0001.jsonl", "x" * 99)
    } yield (bytes, name)
    val seed0 = Seed(42L)
    var seed = seed0
    for (_ <- 1 to 50) {
      val (bytes, name) = gen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val enc = GzipCodec.encode(name, bytes)
      val dec = GzipCodec.decode(enc)
      assert(dec.isDefined, s"refused own output (n=${bytes.length}, name=$name)")
      assert(dec.get.name == name)
      assert(java.util.Arrays.equals(dec.get.data, bytes),
        s"payload mangled at n=${bytes.length}")
      // truncating anywhere in the body/trailer must refuse, not mangle
      val cut = enc.length - 1 - (bytes.length % 7)
      assert(GzipCodec.decode(enc.take(cut)).isEmpty, s"truncation at $cut accepted")
    }
  }

  test("property: JPEG encode->decode never refuses and bounds the per-pixel error") {
    import graft.sources.JpegCodec
    val gen = for {
      w <- Gen.chooseNum(1, 24)
      h <- Gen.chooseNum(1, 24)
      ch <- Gen.oneOf(1, 3)
      base <- Gen.chooseNum(0, 255)
      sx <- Gen.chooseNum(-4, 4)
      sy <- Gen.chooseNum(-4, 4)
    } yield (w, h, ch, base, sx, sy)
    var seed = Seed(7L)
    for (_ <- 1 to 40) {
      val (w, h, ch, base, sx, sy) = gen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      // smooth planes: JPEG's error bound is only meaningful without
      // high-frequency content; arbitrary noise is covered by the
      // never-throws half of the property
      val pix = Array.tabulate(w * h * ch) { i =>
        val p = i / ch
        val v = base + sx * (p % w) + sy * (p / w)
        (if (v < 0) 0 else if (v > 255) 255 else v).toByte
      }
      val enc = JpegCodec.encode(w, h, ch, pix)
      val dec = JpegCodec.decode(enc)
      assert(dec.isDefined, s"refused own stream (w=$w h=$h ch=$ch)")
      val img = dec.get
      assert((img.width, img.height, img.channels) == ((w, h, ch)))
      // clamped-gradient plateaus keep blocks smooth enough for a
      // conservative bound; the pin for EXACT values is the golden spec
      val maxErr = (0 until w * h * ch)
        .map(i => math.abs((img.pixels(i) & 0xff) - (pix(i) & 0xff))).max
      assert(maxErr <= 24, s"round-trip error $maxErr (w=$w h=$h ch=$ch b=$base $sx/$sy)")
      // random corruption mid-stream must refuse or decode, never throw
      val cut = enc.length / 2
      JpegCodec.decode(enc.take(cut))
      ()
    }
  }

  test("property: NetCDF encode->decode round-trips arbitrary variable sets") {
    import graft.sources.NetcdfCodec
    import graft.sources.NetcdfCodec._
    val gen = for {
      n <- Gen.chooseNum(1, 40)
      doubles <- Gen.containerOfN[Array, Double](n,
        Gen.oneOf(Gen.chooseNum(-1e18, 1e18), Gen.oneOf(0.0, -0.0, 1.5, Double.MaxValue)))
      ints <- Gen.containerOfN[Array, Int](n, Gen.chooseNum(Int.MinValue, Int.MaxValue))
      nameLen <- Gen.chooseNum(1, 37)
    } yield (n, doubles, ints, "v" * nameLen)
    var seed = Seed(11L)
    for (_ <- 1 to 50) {
      val (n, ds, is, nm) = gen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val nc = Nc(Seq(Dim("i", n)), Seq(Attr("t", nm)), Seq(
        Variable(nm, Array(0), Seq(Attr("a", Array(ds(0)))), DoubleData(ds)),
        Variable("ints", Array(0), Nil, IntData(is))))
      val enc = NetcdfCodec.encode(nc)
      val back = NetcdfCodec.decode(enc).getOrElse(fail(s"refused own file (n=$n)"))
      // bit-exact double round-trip (IEEE bits through big-endian i/o)
      assert(back.vars(0).data.asInstanceOf[DoubleData].v
        .map(java.lang.Double.doubleToRawLongBits).toSeq ==
        ds.map(java.lang.Double.doubleToRawLongBits).toSeq)
      assert(back.vars(1).data.asInstanceOf[IntData].v.toSeq == is.toSeq)
      // any truncation refuses
      assert(NetcdfCodec.decode(enc.take(enc.length - 1 - (n % 5))).isEmpty)
    }
  }

  test("property: KMV union sketch equals merge of member sketches") {
    // k-smallest-of-union == k-smallest of (k-smallest(A) ++ k-smallest(B)):
    // the mergeability that makes the theta tier distributable
    val k = 16
    def sketch(xs: Set[Long]): Seq[Long] = xs.toSeq.sorted.take(k)
    val gen = for {
      a <- Gen.containerOf[Set, Long](Gen.chooseNum(0L, 10000L))
      b <- Gen.containerOf[Set, Long](Gen.chooseNum(0L, 10000L))
    } yield (a, b)
    var seed = Seed(7L)
    for (_ <- 1 to 100) {
      val (a, b) = gen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val direct = sketch(a ++ b)
      val merged = (sketch(a) ++ sketch(b)).distinct.sorted.take(k)
      assert(direct == merged, s"KMV merge broken: |a|=${a.size} |b|=${b.size}")
    }
  }
}
