package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.sources.GeoIngest
import graft.streaming.StreamingPipelines
import graft.streaming.StreamingPipelines.{Obs, RunningStats}

class StreamingSpec extends SparkSpec {

  test("windowedComposite aggregates tumbling windows incrementally") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val events = in.toDF().toDF("ts", "user_id", "value")
    val q = StreamingPipelines.windowedComposite(events)
      .writeStream.format("memory").queryName("wc").outputMode("update").start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-02 00:00:00"), 1L, 10.0),
        (Timestamp.valueOf("2024-01-05 00:00:00"), 1L, 20.0))
      q.processAllAvailable()
      // in-watermark addition lands in the same (epoch-aligned) window
      in.addData(
        (Timestamp.valueOf("2024-01-10 00:00:00"), 1L, 30.0),
        (Timestamp.valueOf("2024-02-20 00:00:00"), 2L, 5.0))
      q.processAllAvailable()
      // event later than the watermark horizon (its window closed once
      // max event time hit 02-20) must be dropped, not re-opened
      in.addData((Timestamp.valueOf("2024-01-01 00:00:00"), 1L, 999.0))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .groupBy("user_id", "w_start") // update mode re-emits; keep latest per key
        .agg(max("n").as("n"), max("sum_value").as("sum_value"))
        .orderBy("user_id").collect()
      val u1 = rows.find(_.getLong(0) == 1L).get
      assert(u1.getLong(2) == 3L && u1.getDouble(3) == 60.0, s"late row not dropped: ${rows.mkString(";")}")
      assert(rows.exists(r => r.getLong(0) == 2L && r.getLong(2) == 1L))
    } finally q.stop()
  }

  test("session windows split on the inactivity gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val q = StreamingPipelines.sessionizedActivity(in.toDF().toDF("ts", "user_id", "value"))
      .writeStream.format("memory").queryName("sess").outputMode("complete").start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 1.0),
        (Timestamp.valueOf("2024-01-01 10:10:00"), 1L, 2.0),  // same session (gap 10m)
        (Timestamp.valueOf("2024-01-01 11:30:00"), 1L, 4.0))  // new session (gap 80m)
      q.processAllAvailable()
      val rows = spark.table("sess")
        .groupBy("user_id", "s_start").agg(max("n_events").as("n"))
        .collect()
      assert(rows.length == 2, rows.mkString(";"))
      assert(rows.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("intervalJoin pairs clicks with in-window views across batches, excluding out-of-window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Timestamp, Long, Double)]
    val clicks = MemoryStream[(Timestamp, Long, Double)]
    val q = StreamingPipelines.intervalJoin(
        views.toDF().toDF("ts", "user_id", "value"),
        clicks.toDF().toDF("ts", "user_id", "value"))
      .writeStream.format("memory").queryName("ij").outputMode("append").start()
    try {
      views.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 0.0),
        (Timestamp.valueOf("2024-01-01 10:00:00"), 2L, 0.0))
      q.processAllAvailable()
      clicks.addData(
        (Timestamp.valueOf("2024-01-01 10:20:00"), 1L, 7.0),  // in window (20 min after)
        (Timestamp.valueOf("2024-01-01 11:30:00"), 1L, 8.0),  // out of window (90 min)
        (Timestamp.valueOf("2024-01-01 09:50:00"), 2L, 9.0))  // before the view
      q.processAllAvailable()
      // advance both watermarks far enough to finalize and emit pairs;
      // the sentinel click precedes the sentinel view so they can't pair
      views.addData((Timestamp.valueOf("2024-01-02 01:00:00"), 9L, 0.0))
      clicks.addData((Timestamp.valueOf("2024-01-02 00:00:00"), 9L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("ij")
        .select("user_id", "click_value").as[(Long, Double)].collect().toSet
      assert(rows == Set((1L, 7.0)), s"got $rows")
    } finally q.stop()
  }

  test("stream-static enrichment joins every event against the broadcast dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[(Timestamp, Long, Double)]
    val q = StreamingPipelines.enrichAgainstStatic(
        in.toDF().toDF("ts", "user_id", "value"), dim, "user_id")
      .writeStream.format("memory").queryName("enr").outputMode("append").start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 1.0),
        (Timestamp.valueOf("2024-01-01 10:01:00"), 3L, 2.0)) // no dim row
      q.processAllAvailable()
      val rows = spark.table("enr").select("user_id", "tier")
        .as[(Long, Option[String])].collect().toMap
      assert(rows == Map(1L -> Some("gold"), 3L -> None), s"got $rows")
    } finally q.stop()
  }

  test("stream-static anti join drops documents whose hash is already in the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq("h1", "h3").toDF("content_hash")
    val in = MemoryStream[(Timestamp, String, Long)]
    val q = StreamingPipelines.dedupAgainstCorpus(
        in.toDF().toDF("ts", "content_hash", "doc_id"), corpus, "content_hash")
      .writeStream.format("memory").queryName("inc_dedup").outputMode("append").start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), "h1", 10L), // known -> dropped
        (Timestamp.valueOf("2024-01-01 10:00:01"), "h2", 11L)) // novel -> kept
      q.processAllAvailable()
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:01:00"), "h3", 12L), // known -> dropped
        (Timestamp.valueOf("2024-01-01 10:01:01"), "h4", 13L)) // novel -> kept
      q.processAllAvailable()
      val kept = spark.table("inc_dedup").select("doc_id")
        .as[Long].collect().toSet
      assert(kept == Set(11L, 13L), s"got $kept")
    } finally q.stop()
  }

  test("runningDistinct agrees with the batch first-seen semantics on a shared fixture") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingPipelines.Evt
    def ts(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    val batch1 = Seq(
      Evt(1L, 1L, "view", ts("10:00:00")),
      Evt(1L, 2L, "click", ts("10:01:00")),
      Evt(2L, 3L, "view", ts("10:00:30")))
    val batch2 = Seq(
      Evt(1L, 4L, "view", ts("10:05:00")),     // type replay: count must NOT bump
      Evt(1L, 5L, "purchase", ts("10:06:00")))
    val in = MemoryStream[Evt]
    val q = StreamingPipelines.runningDistinct(in.toDS())
      .writeStream.format("memory").queryName("rd").outputMode("append").start()
    try {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("rd").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      // batch dual: the q_window_distinct first-seen arithmetic over the
      // same rows — the two surfaces must agree row for row
      import org.apache.spark.sql.expressions.Window
      val firstSeen = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val running = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val batchExpected = (batch1 ++ batch2).toDS().toDF()
        .withColumn("first_seen",
          when(row_number().over(firstSeen) === 1, 1L).otherwise(0L))
        .withColumn("d", sum(col("first_seen")).over(running))
        .select("user_id", "event_id", "d").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batchExpected,
        s"streaming $streamed != batch $batchExpected")
      assert(streamed((1L, 4L)) == 2L, "replayed type bumped the count")
      assert(streamed((1L, 5L)) == 3L)
    } finally q.stop()
  }

  test("running heavy hitters keeps the MG guarantees across micro-batches, per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val k = 8
    // two keys, zipf-ish item stream split across two batches
    def zipf(key: String, seed: Int): Seq[(String, String)] =
      (1 to 30).flatMap(i => Seq.fill(600 / i)((key, s"it${(i + seed) % 30}")))
    val all = zipf("a", 0) ++ zipf("b", 7)
    val (b1, b2) = all.splitAt(all.length / 2)
    val in = MemoryStream[(String, String)]
    val q = StreamingPipelines.runningHeavyHitters(in.toDS(), k)
      .writeStream.format("memory").queryName("hh").outputMode("update").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      // update-mode memory sink: the LAST emission per key is final
      val finals = spark.table("hh").collect()
        .map(r => (r.getString(0), r.getLong(1),
          r.getSeq[org.apache.spark.sql.Row](2)
            .map(x => x.getString(0) -> x.getLong(1)).toMap))
        .groupBy(_._1).map { case (key, rows) => key -> rows.maxBy(_._2) }
      for ((key, (_, n, hot)) <- finals) {
        assert(hot.size <= k, s"$key: ${hot.size} counters > k")
        val exact = all.filter(_._1 == key).groupBy(_._2)
          .view.mapValues(_.size.toLong).toMap
        assert(n == exact.values.sum, s"$key: n_seen drifted")
        for ((item, cnt) <- exact if cnt > n / (k + 1)) {
          assert(hot.contains(item), s"$key: heavy $item ($cnt) missing")
          assert(hot(item) <= cnt && cnt - hot(item) <= n / (k + 1),
            s"$key: $item est ${hot(item)} outside [cnt-n/(k+1), cnt]")
        }
      }
    } finally q.stop()
  }

  test("running count-min equals the batch sketch bit-for-bit after any prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (d, w) = (4, 64)
    val stream = (1 to 25).flatMap(i => Seq.fill(400 / i)(("a", s"tok_$i")))
    val (b1, b2) = stream.splitAt(stream.length / 3)
    val in = MemoryStream[(String, String)]
    val q = StreamingPipelines.runningCountMin(in.toDS(), d, w)
      .writeStream.format("memory").queryName("cms").outputMode("update").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val fin = spark.table("cms").collect()
        .map(r => (r.getLong(1), r.getSeq[Long](2).toArray))
        .maxBy(_._1)
      assert(fin._1 == stream.length.toLong)
      // linearity: the streamed state IS the batch matrix, exactly —
      // micro-batch boundaries cannot matter for a linear sketch
      val batch = spark.createDataset(stream.map(_._2)).repartition(8)
        .select(new graft.operators.Sketches.CountMin(d, w).toColumn).head()
      assert(java.util.Arrays.equals(fin._2, batch),
        "streamed CMS diverged from the batch matrix")
    } finally q.stop()
  }

  test("streaming ANN assignment agrees with the batch index and replays idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val cents = graft.queries.VectorQueries.trainedCentroids(spark, dir)
    // the batch search-side index: (vec_id, cid, rk<=2)
    val batchIdx = graft.queries.VectorQueries.ivfRanked(spark, dir)
      .filter(col("rk") <= 2).select("vec_id", "cid", "rk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") < 40)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    assert(vecs.nonEmpty, "fixture lost its vectors")
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamingPipelines
      .upsertAssignments(in.toDF().toDF("vec_id", "embedding"), cents)
      .writeStream.format("memory").queryName("ann_upsert")
      .outputMode("append").start()
    try {
      in.addData(vecs: _*); q.processAllAvailable()
      // at-least-once re-delivery of the SAME vectors (replay)
      in.addData(vecs: _*); q.processAllAvailable()
      val rows = spark.table("ann_upsert").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      val distinct = rows.toSet
      // agreement: the streamed routing equals the batch index rows for
      // the streamed ids — same quantized-dot argmax, same tie-breaks
      val expect = batchIdx.filter(_._1 < 40)
      assert(distinct == expect,
        s"streaming/batch disagree: ${(distinct -- expect).take(3)} vs ${(expect -- distinct).take(3)}")
      // replay idempotence: re-delivery produced bit-identical rows, so
      // an upsert keyed on (vec_id, rk) converges — nothing new appeared
      assert(rows.length == 2 * distinct.size,
        "replay emitted rows that differ from the first delivery")
      // every vector got exactly rk 1 and 2
      for ((vid, rs) <- distinct.groupBy(_._1))
        assert(rs.map(_._3) == Set(1, 2), s"vec $vid incomplete probe list")
    } finally q.stop()
  }

  test("runningDistinct evicts idle state at the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingPipelines.Evt
    def ts(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    val in = MemoryStream[Evt]
    val q = StreamingPipelines.runningDistinct(in.toDS(), horizon = "1 hour")
      .writeStream.format("memory").queryName("rd_evict").outputMode("append").start()
    try {
      in.addData(Evt(1L, 1L, "view", ts("10:00:00")), Evt(1L, 2L, "click", ts("10:01:00")))
      q.processAllAvailable()
      // advance the watermark far past user 1's last activity + horizon
      in.addData(Evt(99L, 3L, "view", ts("13:00:00")))
      q.processAllAvailable()
      // user 1 returns after eviction: the count restarts — bounded
      // state has a price, and this pins what it is
      in.addData(Evt(1L, 4L, "view", ts("12:30:00")))
      q.processAllAvailable()
      val rows = spark.table("rd_evict").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(rows((1L, 1L)) == 1L && rows((1L, 2L)) == 2L)
      assert(rows((1L, 4L)) == 1L,
        s"state not evicted at the horizon: ${rows.mkString(";")}")
    } finally q.stop()
  }

  test("runningStats carries exact integer state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Obs]
    val q = StreamingPipelines.runningStats(in.toDS())
      .writeStream.format("memory").queryName("rs").outputMode("update").start()
    try {
      in.addData(Obs(1L, 1.25), Obs(1L, 2.75))
      q.processAllAvailable()
      in.addData(Obs(1L, 6.0))
      q.processAllAvailable()
      val last = spark.table("rs").as[RunningStats].collect()
        .filter(_.user_id == 1L).maxBy(_.n)
      assert(last.n == 3L)
      assert(last.sum2 == 1000L) // (125 + 275 + 600) exact integer cents
      assert(last.mean == 10.0 / 3.0)
    } finally q.stop()
  }

  test("fileIngest processes files exactly once across restarts") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_src").toString
    val dest = Files.createTempDirectory("graft_dest").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val schema = Seq((1L, 100.0)).toDF("id", "value").schema

    Seq((1L, 100.0), (2L, 250.0)).toDF("id", "value")
      .write.mode("append").parquet(src)
    val q1 = StreamingPipelines.fileIngest(spark, schema, src, dest, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(dest).count() == 2)

    // second run with same checkpoint: no new files → nothing reprocessed
    val q2 = StreamingPipelines.fileIngest(spark, schema, src, dest, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(dest).count() == 2)

    // a newly landed file is picked up, old ones still not reprocessed
    Seq((3L, 50.0)).toDF("id", "value").write.mode("append").parquet(src)
    val q3 = StreamingPipelines.fileIngest(spark, schema, src, dest, ckpt)
    q3.awaitTermination()
    val out = spark.read.parquet(dest)
    assert(out.count() == 3)
    assert(out.filter(col("norm_value") === 0.5).count() == 1)
  }

  test("netcdfIngest streams landed .nc shards through the batch decode kernel exactly once") {
    import spark.implicits._
    import graft.sources.Sinks
    val src = Files.createTempDirectory("graft_nc_src").toString
    val dest = Files.createTempDirectory("graft_nc_dest").toString
    val ckpt = Files.createTempDirectory("graft_nc_ckpt").toString

    // first landing: two prediction shards + one corrupt file
    Sinks.writeNetcdfFiles(
      Seq(("t1", Array(14.5), Array(-16.5), Array(0.25)),
        ("t2", Array(15.0, 15.5), Array(-16.0, -15.5), Array(0.5, 0.75)))
        .toDF("group_id", "lat", "lon", "preds"), src)
    Files.write(java.nio.file.Paths.get(src, "broken.nc"),
      "not a netcdf".getBytes("UTF-8"))
    StreamingPipelines.ingest(spark, GeoIngest.netcdf, src, dest, ckpt).awaitTermination()
    val first = spark.read.parquet(dest)
    assert(first.count() == 3, "corrupt shard must skip, good ones decode")

    // replay with same checkpoint: nothing reprocessed
    StreamingPipelines.ingest(spark, GeoIngest.netcdf, src, dest, ckpt).awaitTermination()
    assert(spark.read.parquet(dest).count() == 3)

    // a newly landed shard is picked up incrementally
    Sinks.writeNetcdfFiles(
      Seq(("t3", Array(16.0), Array(-15.0), Array(0.875)))
        .toDF("group_id", "lat", "lon", "preds"), src)
    StreamingPipelines.ingest(spark, GeoIngest.netcdf, src, dest, ckpt).awaitTermination()
    val streamed = spark.read.parquet(dest)
      .select("test_id", "instance", "lat", "lon", "pred")

    // stream/batch parity: identical rows to the one-shot batch scan
    val batch = GeoIngest.netcdf.read(spark, src)
    assert(streamed.count() == 4)
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty,
      "streaming ingest diverged from the batch decode")
  }

  test("webdatasetIngest streams tar shards of caption+JPEG pairs, skipping corruption") {
    import spark.implicits._
    import graft.sources.{JpegCodec, TarCodec}
    val src = Files.createTempDirectory("graft_wds_src").toString
    val dest = Files.createTempDirectory("graft_wds_dest").toString
    val ckpt = Files.createTempDirectory("graft_wds_ckpt").toString

    // committed fixtures: one baseline + one PROGRESSIVE jpeg (a real
    // crawl carries both codings in the same shard)
    val base = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.path("q_jpeg_decode") + "/rgb444_12x10.jpg"))
    val prog = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.path("q_jpeg_progressive") + "/prog_gray_16x12.jpg"))
    def shard(samples: Seq[(String, String, Array[Byte])]): Array[Byte] =
      TarCodec.encode(samples.flatMap { case (id, cap, jpg) =>
        Seq(TarCodec.Member(s"$id.txt", cap.getBytes("UTF-8")),
          TarCodec.Member(s"$id.jpg", jpg))
      })
    Files.write(java.nio.file.Paths.get(src, "s0.tar"), shard(Seq(
      ("a01", "a baseline sample", base),
      ("a02", "a progressive sample", prog),
      ("a03", "corrupt image member", Array[Byte](1, 2, 3)), // drops
    )))
    // a shard with a "./"-prefixed member layout (tar -cf shard.tar .)
    // plus a genuinely unpaired caption (c99.txt with no image) —
    // both must pair/skip correctly, not collapse or kill
    Files.write(java.nio.file.Paths.get(src, "s1.tar"), TarCodec.encode(Seq(
      TarCodec.Member("./b01.txt", "another baseline".getBytes("UTF-8")),
      TarCodec.Member("./b01.jpg", base),
      TarCodec.Member("./c99.txt", "caption without an image".getBytes("UTF-8")))))
    Files.write(java.nio.file.Paths.get(src, "broken.tar"),
      "not a tar at all".getBytes("UTF-8"))

    StreamingPipelines.ingest(spark, GeoIngest.webdataset, src, dest, ckpt).awaitTermination()
    val out = spark.read.parquet(dest)
    assert(out.count() == 3, "3 decodable pairs: a01, a02, b01")
    // replay with the same checkpoint: nothing reprocessed
    StreamingPipelines.ingest(spark, GeoIngest.webdataset, src, dest, ckpt).awaitTermination()
    assert(spark.read.parquet(dest).count() == 3)

    // per-sample features match a direct decode of the same fixtures
    val img = JpegCodec.decode(base).get
    var px = 0L
    img.pixels.foreach(b => px += b & 0xff)
    val a01 = out.filter($"sample" === "a01")
      .select("width", "height", "channels", "px_sum").head()
    assert((a01.getInt(0), a01.getInt(1), a01.getInt(2), a01.getLong(3)) ==
      ((12, 10, 3, px)))
    val a02 = out.filter($"sample" === "a02").select("width", "height", "channels").head()
    assert((a02.getInt(0), a02.getInt(1), a02.getInt(2)) == ((16, 12, 1)))
    // the dotted-prefix shard paired by basename, and the unpaired
    // caption is absent
    assert(out.filter($"sample" === "b01").count() == 1)
    assert(out.filter($"sample" === "c99").count() == 0)

    // a newly landed shard is picked up incrementally
    Files.write(java.nio.file.Paths.get(src, "s2.tar"), shard(Seq(
      ("c01", "late arrival", prog))))
    StreamingPipelines.ingest(spark, GeoIngest.webdataset, src, dest, ckpt).awaitTermination()
    assert(spark.read.parquet(dest).count() == 4)
  }

  test("warcIngest streams crawl archives with batch parity, replay idempotence, incremental pickup") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_warc_src").toString
    val dest = Files.createTempDirectory("graft_warc_dest").toString
    val ckpt = Files.createTempDirectory("graft_warc_ckpt").toString
    // the committed q_warc_extract fixtures: two gzip archives, one
    // bare .warc, one corrupt archive that must skip whole
    val fx = graft.Fixtures.path("q_warc_extract")
    for (f <- Seq("crawl-00.warc.gz", "crawl-01.warc.gz", "crawl-02.warc",
                  "corrupt-04.warc.gz"))
      Files.copy(java.nio.file.Paths.get(fx, f),
        java.nio.file.Paths.get(src, f))

    StreamingPipelines.ingest(spark, GeoIngest.warc, src, dest, ckpt).awaitTermination()
    val streamed = spark.read.parquet(dest)
      .select("file", "rec_idx", "warc_type", "target_uri", "http_status",
        "mime", "payload")
    val batch = GeoIngest.warc.read(spark, src)
      .select("file", "rec_idx", "warc_type", "target_uri", "http_status",
        "mime", "payload")
    assert(streamed.count() > 0)
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty,
      "streaming WARC ingest diverged from the batch decode")
    assert(streamed.filter($"file" === "corrupt-04.warc.gz").count() == 0,
      "corrupt archive leaked records")

    // replay with the same checkpoint: nothing reprocessed
    val n1 = streamed.count()
    StreamingPipelines.ingest(spark, GeoIngest.warc, src, dest, ckpt).awaitTermination()
    assert(spark.read.parquet(dest).count() == n1)
    // a newly landed archive is picked up incrementally
    Files.copy(java.nio.file.Paths.get(fx, "crawl-00.warc.gz"),
      java.nio.file.Paths.get(src, "late-05.warc.gz"))
    StreamingPipelines.ingest(spark, GeoIngest.warc, src, dest, ckpt).awaitTermination()
    val after = spark.read.parquet(dest)
    assert(after.count() > n1, "late archive not ingested")
    assert(after.filter($"file" === "late-05.warc.gz").count() ==
      streamed.filter($"file" === "crawl-00.warc.gz").count())
  }

  test("tfrecordIngest streams training shards with batch parity and replay idempotence") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_tfr_src").toString
    val dest = Files.createTempDirectory("graft_tfr_dest").toString
    val ckpt = Files.createTempDirectory("graft_tfr_ckpt").toString
    val fx = graft.Fixtures.path("q_tfrecord_read")
    for (f <- Seq("train-00.tfrecord", "train-01.tfrecord",
                  "train-02.tfrecord.gz", "corrupt-03.tfrecord"))
      Files.copy(java.nio.file.Paths.get(fx, f),
        java.nio.file.Paths.get(src, f))

    StreamingPipelines.ingest(spark, GeoIngest.tfrecord, src, dest, ckpt).awaitTermination()
    val cols = Seq("file", "rec_idx", "key", "kind", "elem_idx",
      "int_val", "float_bits", "bytes_val")
    val streamed = spark.read.parquet(dest).select(cols.head, cols.tail: _*)
    val batch = GeoIngest.tfrecord.read(spark, src)
      .select(cols.head, cols.tail: _*)
    assert(streamed.count() > 0)
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty,
      "streaming TFRecord ingest diverged from the batch decode")
    assert(streamed.filter($"file" === "corrupt-03.tfrecord").count() == 0,
      "corrupt shard leaked records")

    // replay with the same checkpoint: nothing reprocessed
    val n1 = streamed.count()
    StreamingPipelines.ingest(spark, GeoIngest.tfrecord, src, dest, ckpt).awaitTermination()
    assert(spark.read.parquet(dest).count() == n1)
  }

  test("zstIngest streams jsonl.zst shards with batch parity and replay idempotence") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_zst_src").toString
    val dest = Files.createTempDirectory("graft_zst_dest").toString
    val ckpt = Files.createTempDirectory("graft_zst_ckpt").toString
    val fx = graft.Fixtures.path("q_jsonl_zst")
    for (f <- Seq("docs-00.jsonl.zst", "docs-01.jsonl.zst",
                  "docs-02.jsonl.zst", "corrupt-03.jsonl.zst"))
      Files.copy(java.nio.file.Paths.get(fx, f),
        java.nio.file.Paths.get(src, f))

    StreamingPipelines.ingest(spark, GeoIngest.jsonlZst, src, dest, ckpt).awaitTermination()
    val streamed = spark.read.parquet(dest)
      .select("shard", "line_idx", "line")
    val batch = GeoIngest.jsonlZst.read(spark, src)
    assert(streamed.count() > 0)
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty,
      "streaming zst ingest diverged from the batch decode")
    assert(streamed.filter($"shard" === "corrupt-03.jsonl.zst").count() == 0,
      "corrupt shard leaked lines")
    // replay with the same checkpoint: nothing reprocessed
    val n1 = streamed.count()
    StreamingPipelines.ingest(spark, GeoIngest.jsonlZst, src, dest, ckpt).awaitTermination()
    assert(spark.read.parquet(dest).count() == n1)
  }

  test("bz2Ingest streams jsonl.bz2 shards with batch parity and replay idempotence") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_bz2_src").toString
    val dest = Files.createTempDirectory("graft_bz2_dest").toString
    val ckpt = Files.createTempDirectory("graft_bz2_ckpt").toString
    val fx = graft.Fixtures.path("q_jsonl_bz2")
    for (f <- Seq("docs-00.jsonl.bz2", "docs-01.jsonl.bz2",
                  "docs-02.jsonl.bz2", "corrupt-03.jsonl.bz2"))
      Files.copy(java.nio.file.Paths.get(fx, f),
        java.nio.file.Paths.get(src, f))

    StreamingPipelines.ingest(spark, GeoIngest.jsonlBz2, src, dest, ckpt).awaitTermination()
    val streamed = spark.read.parquet(dest)
      .select("shard", "line_idx", "line")
    val batch = GeoIngest.jsonlBz2.read(spark, src)
    assert(streamed.count() > 0)
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty,
      "streaming bz2 ingest diverged from the batch decode")
    assert(streamed.filter($"shard" === "corrupt-03.jsonl.bz2").count() == 0,
      "corrupt shard leaked lines")
    // replay with the same checkpoint: nothing reprocessed
    val n1 = streamed.count()
    StreamingPipelines.ingest(spark, GeoIngest.jsonlBz2, src, dest, ckpt).awaitTermination()
    assert(spark.read.parquet(dest).count() == n1)
  }

  test("safetensorsIngest streams tensor shards with batch parity and replay idempotence") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_st_src").toString
    val dest = Files.createTempDirectory("graft_st_dest").toString
    val ckpt = Files.createTempDirectory("graft_st_ckpt").toString
    val fx = graft.Fixtures.path("q_safetensors_read")
    for (f <- Seq("embed-00.safetensors", "weights-01.safetensors",
                  "trunc-05.safetensors"))
      Files.copy(java.nio.file.Paths.get(fx, f),
        java.nio.file.Paths.get(src, f))

    StreamingPipelines.ingest(spark, GeoIngest.safetensors, src, dest, ckpt).awaitTermination()
    val streamed = spark.read.parquet(dest)
      .select("file", "tensor", "dtype", "shape", "elem_idx", "bits")
    val batch = GeoIngest.safetensors.read(spark, src)
    assert(streamed.count() > 0)
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty,
      "streaming safetensors ingest diverged from the batch decode")
    assert(streamed.filter($"file" === "trunc-05.safetensors").count() == 0,
      "corrupt shard leaked elements")
    // replay with the same checkpoint: nothing reprocessed
    val n1 = streamed.count()
    StreamingPipelines.ingest(spark, GeoIngest.safetensors, src, dest, ckpt).awaitTermination()
    assert(spark.read.parquet(dest).count() == n1)
  }

  test("arrowIngest and wikiIngest stream shards with batch parity") {
    import spark.implicits._
    // arrow
    val asrc = Files.createTempDirectory("graft_ar_src").toString
    val adest = Files.createTempDirectory("graft_ar_dest").toString
    val ackpt = Files.createTempDirectory("graft_ar_ckpt").toString
    val afx = graft.Fixtures.path("q_arrow_read")
    for (f <- Seq("table-00.arrow", "stream-02.arrow", "trunc-05.arrow"))
      Files.copy(java.nio.file.Paths.get(afx, f),
        java.nio.file.Paths.get(asrc, f))
    StreamingPipelines.ingest(spark, GeoIngest.arrow, asrc, adest, ackpt).awaitTermination()
    val astreamed = spark.read.parquet(adest)
      .select("file", "batch", "col", "row", "elem_idx", "elem_idx2",
        "elem_idx3", "vtype", "is_null", "bits", "str_val")
    val abatch = GeoIngest.arrow.read(spark, asrc)
    assert(astreamed.count() > 0)
    assert(abatch.exceptAll(astreamed).isEmpty &&
      astreamed.exceptAll(abatch).isEmpty,
      "streaming arrow ingest diverged from the batch decode")
    assert(astreamed.filter($"file" === "trunc-05.arrow").count() == 0)
    // wiki
    val wsrc = Files.createTempDirectory("graft_wk_src").toString
    val wdest = Files.createTempDirectory("graft_wk_dest").toString
    val wckpt = Files.createTempDirectory("graft_wk_ckpt").toString
    val wfx = graft.Fixtures.path("q_wiki_pages")
    for (f <- Seq("wiki-00.xml.bz2", "wiki-01.xml.bz2", "corrupt-02.xml.bz2"))
      Files.copy(java.nio.file.Paths.get(wfx, f),
        java.nio.file.Paths.get(wsrc, f))
    StreamingPipelines.ingest(spark, GeoIngest.wiki, wsrc, wdest, wckpt).awaitTermination()
    val wstreamed = spark.read.parquet(wdest)
      .select("shard", "page_id", "ns", "title", "redirect", "text")
    val wbatch = GeoIngest.wiki.read(spark, wsrc)
    assert(wstreamed.count() == 8)
    assert(wbatch.exceptAll(wstreamed).isEmpty &&
      wstreamed.exceptAll(wbatch).isEmpty,
      "streaming wiki ingest diverged from the batch decode")
  }

  test("mp4Ingest and subtitleIngest stream files with batch parity") {
    import spark.implicits._
    // mp4: the sample-table walk as a stream
    val msrc = Files.createTempDirectory("graft_mp_src").toString
    val mdest = Files.createTempDirectory("graft_mp_dest").toString
    val mckpt = Files.createTempDirectory("graft_mp_ckpt").toString
    val mfx = graft.Fixtures.path("q_mp4_samples")
    for (f <- Seq("vid-00.mp4", "av-01.mp4", "frag-03.mp4"))
      Files.copy(java.nio.file.Paths.get(mfx, f),
        java.nio.file.Paths.get(msrc, f))
    StreamingPipelines.ingest(spark, GeoIngest.mp4, msrc, mdest, mckpt).awaitTermination()
    val mstreamed = spark.read.parquet(mdest)
      .select("file", "track", "handler", "codec", "tsc", "smp", "chunk",
        "off", "size", "dts", "dur", "pts", "sync", "md5")
    val mbatch = GeoIngest.mp4.read(spark, msrc)
    assert(mstreamed.count() == 23) // 10 + 13; frag-03 refused
    assert(mbatch.exceptAll(mstreamed).isEmpty &&
      mstreamed.exceptAll(mbatch).isEmpty,
      "streaming mp4 ingest diverged from the batch walk")
    // captions: ASR output landing as VTT/SRT
    val ssrc = Files.createTempDirectory("graft_st_src").toString
    val sdest = Files.createTempDirectory("graft_st_dest").toString
    val sckpt = Files.createTempDirectory("graft_st_ckpt").toString
    val sfx = graft.Fixtures.path("q_vtt_cues")
    for (f <- Seq("talk-00.vtt", "talk-01.srt", "bad-03.vtt"))
      Files.copy(java.nio.file.Paths.get(sfx, f),
        java.nio.file.Paths.get(ssrc, f))
    StreamingPipelines.ingest(spark, GeoIngest.subtitles, ssrc, sdest, sckpt)
      .awaitTermination()
    val sstreamed = spark.read.parquet(sdest)
      .select("file", "cue", "start_ms", "end_ms", "text")
    val sbatch = GeoIngest.subtitles.read(spark, ssrc)
    assert(sstreamed.count() == 7) // 4 + 3; bad-03 refused
    assert(sbatch.exceptAll(sstreamed).isEmpty &&
      sstreamed.exceptAll(sbatch).isEmpty,
      "streaming subtitle ingest diverged from the batch decode")
  }

  test("pdfIngest and audioMetaIngest stream files with batch parity") {
    // pdf: document crawl as a stream
    val psrc = Files.createTempDirectory("graft_pd_src").toString
    val pdest = Files.createTempDirectory("graft_pd_dest").toString
    val pckpt = Files.createTempDirectory("graft_pd_ckpt").toString
    val pfx = graft.Fixtures.path("q_pdf_text")
    for (f <- Seq("doc-00.pdf", "objstm-06.pdf", "bad-03.pdf"))
      Files.copy(java.nio.file.Paths.get(pfx, f),
        java.nio.file.Paths.get(psrc, f))
    StreamingPipelines.ingest(spark, GeoIngest.pdf, psrc, pdest, pckpt)
      .awaitTermination()
    val pstreamed = spark.read.parquet(pdest)
      .select("file", "page", "run", "text")
    val pbatch = GeoIngest.pdf.read(spark, psrc)
    assert(pstreamed.count() == 7) // 6 + 1; bad-03 refused
    assert(pbatch.exceptAll(pstreamed).isEmpty &&
      pstreamed.exceptAll(pbatch).isEmpty,
      "streaming pdf ingest diverged from the batch walk")
    // audio metadata
    val asrc = Files.createTempDirectory("graft_au_src").toString
    val adest = Files.createTempDirectory("graft_au_dest").toString
    val ackpt = Files.createTempDirectory("graft_au_ckpt").toString
    Files.copy(java.nio.file.Paths.get(
      graft.Fixtures.path("q_flac_meta"), "tone-00.flac"),
      java.nio.file.Paths.get(asrc, "tone-00.flac"))
    Files.copy(java.nio.file.Paths.get(
      graft.Fixtures.path("q_id3_tags"), "song-01.mp3"),
      java.nio.file.Paths.get(asrc, "song-01.mp3"))
    StreamingPipelines.ingest(spark, GeoIngest.audioMeta, asrc, adest, ackpt)
      .awaitTermination()
    val astreamed = spark.read.parquet(adest)
      .select("file", "kind", "key", "sval", "num")
    val abatch = GeoIngest.audioMeta.read(spark, asrc)
    assert(astreamed.count() == 17) // 10 flac + 7 mp3 rows
    assert(abatch.exceptAll(astreamed).isEmpty &&
      astreamed.exceptAll(abatch).isEmpty,
      "streaming audio-meta ingest diverged from the batch decode")
  }

  test("streaming dedup drops cross-batch duplicates within the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val deduped = StreamingPipelines.streamingDedup(
      in.toDF().toDF("ts", "content_hash", "value"), "content_hash", "1 hour")
    val q = deduped.writeStream.format("memory").queryName("sdd")
      .outputMode("append").start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), "aaa", 1.0),
        (Timestamp.valueOf("2024-01-01 10:05:00"), "aaa", 2.0), // same-batch dup
        (Timestamp.valueOf("2024-01-01 10:10:00"), "bbb", 3.0))
      q.processAllAvailable()
      in.addData( // cross-batch dup within the horizon
        (Timestamp.valueOf("2024-01-01 10:20:00"), "aaa", 4.0),
        (Timestamp.valueOf("2024-01-01 10:30:00"), "ccc", 5.0))
      q.processAllAvailable()
      val keys = spark.table("sdd").select("content_hash")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(keys == Seq("aaa", "bbb", "ccc"), keys.mkString(","))
    } finally q.stop()
  }

  test("a retried batch overwrites its own output instead of double-appending") {
    import spark.implicits._
    val dest = Files.createTempDirectory("graft_retry_dest").toString
    val batch = Seq((1L, 100.0), (2L, 250.0)).toDF("id", "value")
    // simulate foreachBatch's at-least-once retry: same batchId twice,
    // the first attempt having died after a partial (here: full) write
    StreamingPipelines.ingestBatch(batch, 7L, dest)
    StreamingPipelines.ingestBatch(batch, 7L, dest)
    val out = spark.read.parquet(dest)
    assert(out.count() == 2, "retry duplicated rows")
    // a different batch id lands alongside, not over, earlier batches
    StreamingPipelines.ingestBatch(Seq((3L, 50.0)).toDF("id", "value"), 8L, dest)
    assert(spark.read.parquet(dest).count() == 3)
  }

  test("runningContingency counts equal the batch table after every prefix; chi2 matches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new Timestamp(1704103200000L + sec * 1000L)
    // (ts, user_id, event_type) rows split into two micro-batches
    val batch1 = Seq((ts(0), 1L, "view"), (ts(1), 2L, "click"), (ts(2), 3L, "view"),
      (ts(3), 4L, "purchase"), (ts(4), 5L, "view"))
    val batch2 = Seq((ts(5), 6L, "click"), (ts(6), 7L, "view"), (ts(7), 1L, "click"),
      (ts(8), 2L, "purchase"))
    val in = MemoryStream[(Timestamp, Long, String)]
    val stream = StreamingPipelines.runningContingency(
      in.toDF().toDF("ts", "user_id", "event_type"))
    val q = stream.writeStream.format("memory").queryName("rc")
      .outputMode("complete").start()
    try {
      def tableCounts = spark.table("rc").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      def batchCounts(rows: Seq[(Timestamp, Long, String)]) =
        StreamingPipelines.runningContingency(
            rows.toDF("ts", "user_id", "event_type"))
          .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      in.addData(batch1: _*); q.processAllAvailable()
      assert(tableCounts == batchCounts(batch1),
        "after batch 1 the running table diverges from the batch aggregation")
      in.addData(batch2: _*); q.processAllAvailable()
      val streamed = tableCounts
      assert(streamed == batchCounts(batch1 ++ batch2),
        "linear-state property broken: streaming counts != batch counts")
      // the derived statistic agrees between the two surfaces
      // (snapshot the sink view first: chi2FromCounts self-joins its
      // input, and a MemoryPlan view can't be referenced twice)
      val snapshot = streamed.toSeq
        .map { case ((t, b), o) => (t, b, o) }
        .toDF("event_type", "bucket", "o")
      val chiStream = StreamingPipelines.chi2FromCounts(snapshot)
        .collect().head.getDouble(0)
      val chiBatch = StreamingPipelines.chi2FromCounts(
          StreamingPipelines.runningContingency(
            (batch1 ++ batch2).toDF("ts", "user_id", "event_type")))
        .collect().head.getDouble(0)
      assert(chiStream == chiBatch, s"chi2 $chiStream != $chiBatch")
    } finally q.stop()
  }

  test("runningLocf agrees with the batch ignore-nulls window on a shared fixture") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingPipelines.{DayCell, Filled}
    def ts(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    // user 1: gap, obs(2.0), gap, obs(5.0), gap; user 2: leading gaps only
    val batch1 = Seq(
      DayCell(1L, ts("10:00:00"), "d01", None),
      DayCell(1L, ts("10:01:00"), "d02", Some(2.0)),
      DayCell(2L, ts("10:00:30"), "d01", None))
    val batch2 = Seq(
      DayCell(1L, ts("10:05:00"), "d03", None),          // carries 2.0 ACROSS batches
      DayCell(1L, ts("10:06:00"), "d04", Some(5.0)),
      DayCell(1L, ts("10:07:00"), "d05", None),          // carries 5.0
      DayCell(2L, ts("10:06:30"), "d02", None))          // still leading gap
    val in = MemoryStream[DayCell]
    val q = StreamingPipelines.runningLocf(in.toDS())
      .writeStream.format("memory").queryName("locf").outputMode("append").start()
    try {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("locf").as[Filled].collect()
        .map(f => (f.user_id, f.day) -> ((f.filled, f.was_observed))).toMap
      // batch dual: last(v, ignoreNulls) over the same rows, user-keyed
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = (batch1 ++ batch2).toDS().toDF()
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("day"), col("filled"), col("v").isNotNull.as("obs"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3)))).toMap
      assert(streamed == expected, s"streaming $streamed != batch $expected")
      assert(streamed((1L, "d03")) == ((Some(2.0), false)), "cross-batch carry broken")
      assert(streamed((2L, "d02")) == ((None, false)), "leading gap filled from nothing")
    } finally q.stop()
  }

  test("streaming curation equals the batch pipeline end-to-end on a file-drop fixture") {
    import spark.implicits._
    import graft.operators.TextOps
    import org.apache.spark.sql.expressions.Window
    val src = Files.createTempDirectory("cur_src").toString
    val dest = Files.createTempDirectory("cur_dest").toString + "/t"
    val ckpt = Files.createTempDirectory("cur_ckpt").toString

    // landing-zone fixture: the real documents table dropped as three
    // doc_id-ordered files, the last one re-emitting five earlier
    // texts under new ids (cross-batch duplicates — including
    // whatever keep-flags they carry) plus two fresh docs
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("lang"), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(base.length >= 20, "fixture too small to split")
    val (fileA, rest) = base.splitAt(base.length / 2)
    val dupes = fileA.take(5).map { case (id, l, t) => (id + 100000L, l, t) }
    val fresh = Seq(
      (900001L, "en", "the quick brown fox is one of the best of the tests in the corpus and it is fine " * 4),
      (900002L, "de", "kurz"))
    val fileC = rest ++ dupes ++ fresh
    def land(rows: Seq[(Long, String, String)], mtime: Long): Unit = {
      rows.toDF("doc_id", "lang", "text").coalesce(1)
        .write.mode("append").parquet(src)
      // FileStreamSource orders by modification time: pin it so the
      // drop order is deterministic doc_id order
      new java.io.File(src).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && f.lastModified() > mtime)
        .foreach(f => f.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis() - 60000
    land(fileA.toSeq, t0)
    land(fileC, t0 + 10000)
    val schema = Seq((1L, "en", "x")).toDF("doc_id", "lang", "text").schema

    val q1 = StreamingPipelines.curationIngest(spark, schema, src, dest, ckpt,
      maxFilesPerTrigger = 1)
    q1.awaitTermination()

    def streamRows() = spark.read.option("basePath", dest).parquet(dest)
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("kept"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
      .toSet

    // batch arm over the SAME landed rows, through the same shared kernel
    val allLanded = spark.read.parquet(src)
    val w = Window.partitionBy(col("dkey")).orderBy(col("doc_id"))
    val batchRows = TextOps.curationScore(
        allLanded.withColumn("dkey", TextOps.dedupKey(col("text")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn"))
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("kept"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
      .toSet

    val streamed = streamRows()
    assert(streamed == batchRows,
      s"stream/batch keeper sets diverge: only-stream=${streamed -- batchRows}, " +
        s"only-batch=${batchRows -- streamed}")
    // the re-emitted texts were cross-BATCH duplicates: their new ids
    // must not appear (the registry anti-join caught them)
    assert(dupes.forall(d => !streamed.exists(_._1 == d._1)),
      "cross-batch duplicate resurrected under a new id")
    // curated aggregate parity with the declared batch query shape
    val aggStream = spark.read.option("basePath", dest).parquet(dest)
      .filter(col("kept"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val aggBatch = TextOps.curationScore(
        allLanded.withColumn("dkey", TextOps.dedupKey(col("text")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn"))
      .filter(col("kept"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(aggStream == aggBatch, "per-lang curated aggregates diverge")

    // at-least-once retry: re-running the FIRST batch replaces its own
    // partition with identical rows (prior filter excludes batch 0 itself)
    StreamingPipelines.curateBatch(
      fileA.toSeq.toDF("doc_id", "lang", "text"), 0L, dest)
    assert(streamRows() == streamed, "batch retry changed the curated table")

    // restart with the same checkpoint: nothing reprocessed
    val q2 = StreamingPipelines.curationIngest(spark, schema, src, dest, ckpt,
      maxFilesPerTrigger = 1)
    q2.awaitTermination()
    assert(streamRows() == streamed, "restart reprocessed landed batches")
  }
}
