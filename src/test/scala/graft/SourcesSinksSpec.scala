package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.{GeoIngest, Sinks}

class SourcesSinksSpec extends SparkSpec {

  test("GeoJSON point and polygon layers ingest to properties + WKT") {
    val dir = Files.createTempDirectory("graft_geo")
    val points = dir.resolve("points.geojson")
    Files.writeString(points,
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","properties":{"name":"dakar","cls":"riz"},
        | "geometry":{"type":"Point","coordinates":[-17.45,14.69]}},
        |{"type":"Feature","properties":{"name":"thies","cls":"mil"},
        | "geometry":{"type":"Point","coordinates":[-16.93,14.79]}}]}""".stripMargin)
    val polys = dir.resolve("polys.geojson")
    Files.writeString(polys,
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","properties":{"name":"field1"},
        | "geometry":{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,0.0]]]}}]}""".stripMargin)

    val p = GeoIngest.readPoints(spark, points.toString).orderBy("name").collect()
    assert(p.length == 2)
    assert(p(0).getAs[String]("wkt") == "POINT (-17.45 14.69)")
    assert(p(0).getAs[String]("cls") == "riz")

    val g = GeoIngest.readPolygons(spark, polys.toString).collect()
    assert(g(0).getAs[String]("wkt") == "POLYGON ((0.0 0.0, 1.0 0.0, 1.0 1.0, 0.0 0.0))")
  }

  test("partitioned sink lays out directories, bounds files, writes _SUCCESS + manifest") {
    val base = Files.createTempDirectory("graft_sink")
    val data = base.resolve("data").toString
    val manifest = base.resolve("manifest").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")

    Sinks.writePartitioned(ev, data, Seq("event_type"), maxRecordsPerFile = 100)
    assert(Files.exists(Paths.get(data, "_SUCCESS")))
    val typeDirs = Files.list(Paths.get(data)).filter(p =>
      p.getFileName.toString.startsWith("event_type=")).count()
    assert(typeDirs >= 3) // click/view/purchase at minimum
    // bounded file sizes: no parquet file exceeds maxRecordsPerFile
    val back = spark.read.parquet(data)
    assert(back.count() == ev.count())
    val perFile = back.groupBy(input_file_name()).count().agg(max("count")).collect()(0).getLong(0)
    assert(perFile <= 100)

    Sinks.writeManifest(spark, data, manifest, Seq("event_type"))
    val m = spark.read.json(manifest)
    assert(m.agg(sum("n_rows")).collect()(0).getLong(0) == ev.count())
  }

  test("CSV round-trips with header and inferred schema") {
    val base = Files.createTempDirectory("graft_csv").resolve("out").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "value")
    Sinks.writeCsv(ev, base)
    val back = Sinks.readCsv(spark, base)
    assert(back.count() == ev.count())
    assert(back.schema("event_id").dataType.typeName == "integer" ||
           back.schema("event_id").dataType.typeName == "long")
    val a = ev.orderBy("event_id").collect().map(_.toSeq)
    val b = back.orderBy("event_id").collect().map(_.toSeq.map {
      case i: Int => i.toLong; case x => x })
    assert(a.toSeq == b.toSeq)
  }

  test("loaders and sinks handle scheme-qualified object-store-style paths") {
    // the GCS up/download surface maps to Hadoop FileSystem URIs; the
    // sandbox has no object store, but the path-scheme plumbing is the
    // same code path — a scheme-qualified URI must behave exactly like
    // a bare path for both read and write
    val schemed = s"file://${"/root/testdata/sf0.001"}"
    val viaScheme = Tables.documents(spark, schemed).count()
    val bare = Tables.documents(spark, "/root/testdata/sf0.001").count()
    assert(viaScheme == bare && bare > 0)

    val out = "file://" + Files.createTempDirectory("graft_scheme").resolve("o").toString
    Tables.documents(spark, schemed).limit(7).write.parquet(out)
    assert(spark.read.parquet(out).count() == 7)
  }

  test("tiled TIFF sink writes real containers that decodeTiff round-trips") {
    import spark.implicits._
    import graft.operators.MultimodalOps
    val tiles = Seq(
      (1L, 4, 2, (0 until 8).map(_.toByte).toArray),
      (2L, 3, 2, (10 until 16).map(_.toByte).toArray))
      .toDF("tile_id", "width", "height", "pixels")
      .repartition(2) // executor-side writes from more than one partition
    val dir = Files.createTempDirectory("graft_tiff").toString
    Sinks.writeTiffTiles(tiles, dir)
    assert(Files.exists(Paths.get(dir, "_SUCCESS")), "completion marker missing")
    val t1 = MultimodalOps.decodeTiff(Files.readAllBytes(Paths.get(dir, "tile_1.tif")))
    assert(t1.isDefined && t1.get.width == 4 && t1.get.height == 2)
    assert(t1.get.samples.toSeq == (0 until 8))
    val t2 = MultimodalOps.decodeTiff(Files.readAllBytes(Paths.get(dir, "tile_2.tif")))
    assert(t2.isDefined && t2.get.samples.toSeq == (10 until 16))

    // and the distributed file source round-trips the sink's output,
    // skipping (not failing on) an injected corrupt tile
    Files.write(Paths.get(dir, "tile_99.tif"), "not a tiff".getBytes("UTF-8"))
    val back = GeoIngest.tiffTiles.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](3)).toMap
    assert(back.keySet == Set(1L, 2L), s"unexpected tiles: ${back.keySet}")
    assert(back(1L) == (0 until 8) && back(2L) == (10 until 16))
  }

  test("PNG tile sink writes real containers the codec round-trips") {
    import spark.implicits._
    import graft.sources.PngCodec
    val tiles = Seq(
      (7L, 3, 2, 3, (0 until 18).map(_.toByte).toArray),
      (8L, 2, 2, 1, Array[Byte](10, 20, 30, 40)))
      .toDF("tile_id", "width", "height", "channels", "pixels")
      .repartition(2)
    val dir = Files.createTempDirectory("graft_png").toString
    Sinks.writePngTiles(tiles, dir)
    assert(Files.exists(Paths.get(dir, "_SUCCESS")), "completion marker missing")
    val p7 = PngCodec.decode(Files.readAllBytes(Paths.get(dir, "tile_7.png")))
      .getOrElse(fail("sink png refused by own decoder"))
    assert((p7.width, p7.height, p7.channels) == ((3, 2, 3)))
    assert(p7.pixels.toSeq == (0 until 18).map(_.toByte))
    val p8 = PngCodec.decode(Files.readAllBytes(Paths.get(dir, "tile_8.png")))
      .getOrElse(fail("sink png refused by own decoder"))
    assert(p8.pixels.toSeq == Seq[Byte](10, 20, 30, 40))
  }

  test("JPEG tile sink writes real baseline streams the codec decodes") {
    import spark.implicits._
    import graft.sources.JpegCodec
    val w = 16; val h = 8
    val smooth = Array.tabulate(w * h)(i => (40 + 2 * (i % w) + 3 * (i / w)).toByte)
    val tiles = Seq((5L, w, h, 1, smooth))
      .toDF("tile_id", "width", "height", "channels", "pixels")
    val dir = Files.createTempDirectory("graft_jpg").toString
    Sinks.writeJpegTiles(tiles, dir)
    assert(Files.exists(Paths.get(dir, "_SUCCESS")), "completion marker missing")
    val img = JpegCodec.decode(Files.readAllBytes(Paths.get(dir, "tile_5.jpg")))
      .getOrElse(fail("sink jpeg refused by own decoder"))
    assert((img.width, img.height, img.channels) == ((w, h, 1)))
    val maxErr = (0 until w * h)
      .map(i => math.abs((img.pixels(i) & 0xff) - (smooth(i) & 0xff))).max
    assert(maxErr <= 4, s"smooth tile round-trip error $maxErr")
  }

  test("NetCDF source combines sink output, skipping corrupt files") {
    import spark.implicits._
    val groups = Seq(
      ("t1", Array(14.5), Array(-16.5), Array(0.25)),
      ("t2", Array(15.0, 15.5), Array(-16.0, -15.5), Array(0.5, 0.75)))
      .toDF("group_id", "lat", "lon", "preds")
    val dir = Files.createTempDirectory("graft_ncread").toString
    Sinks.writeNetcdfFiles(groups, dir)
    Files.write(Paths.get(dir, "broken.nc"), "not a netcdf".getBytes("UTF-8"))
    val back = GeoIngest.netcdf.read(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(4)))
    assert(back.length == 3, s"expected 3 instances, got ${back.toSeq}")
    assert(back.toSet == Set(("t1", 0, 0.25), ("t2", 0, 0.5), ("t2", 1, 0.75)))
  }

  test("NetCDF sink writes real CDF-1 prediction datasets per group") {
    import spark.implicits._
    import graft.sources.NetcdfCodec
    val groups = Seq(
      ("togo-001", Array(14.5, 14.625), Array(-16.5, -16.375), Array(0.25, 0.75)),
      ("togo-002", Array(15.0, 15.125, 15.25), Array(-16.0, -15.875, -15.75),
        Array(0.5, 0.125, 0.9375)))
      .toDF("group_id", "lat", "lon", "preds")
      .repartition(2)
    val dir = Files.createTempDirectory("graft_nc").toString
    Sinks.writeNetcdfFiles(groups, dir)
    assert(Files.exists(Paths.get(dir, "_SUCCESS")), "completion marker missing")
    val nc = NetcdfCodec.decode(Files.readAllBytes(Paths.get(dir, "togo-002.nc")))
      .getOrElse(fail("sink output refused by own decoder"))
    assert(nc.dims.head == NetcdfCodec.Dim("instance", 3))
    assert(nc.vars.map(_.name) == Seq("lat", "lon", "preds", "test_id"))
    assert(nc.vars(2).data.asInstanceOf[NetcdfCodec.DoubleData].v.toSeq ==
      Seq(0.5, 0.125, 0.9375))
    assert(nc.vars(3).data.asInstanceOf[NetcdfCodec.CharData].s == "togo-002")
  }

  test("Fixtures.resolve fails fast on a bogus base, naming the override knobs") {
    val ex = intercept[IllegalStateException] {
      Fixtures.resolve(Some("/nonexistent/a"))
    }
    assert(ex.getMessage.contains("/nonexistent/a"))
    assert(ex.getMessage.contains("graft.fixtures.dir"))
    // an unset property fails the same way, naming the property
    val unset = intercept[IllegalStateException](Fixtures.resolve(None))
    assert(unset.getMessage.contains("graft.fixtures.dir"))
    // and the happy path resolves the one root it is given
    val tmp = Files.createTempDirectory("graft_fix").toString
    assert(Fixtures.resolve(Some(tmp)) == tmp)
  }
}
