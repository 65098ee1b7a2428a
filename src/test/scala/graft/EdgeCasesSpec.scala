package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, TextOps, TinyDecoder}
import graft.pipelines.CropMapping
import graft.sources.GeoIngest

/** Edge-of-domain behavior: empty inputs, degenerate documents,
  * hand-checked window frames. */
class EdgeCasesSpec extends SparkSpec {

  test("as-of join against an empty source keeps every anchor with NULLs") {
    import spark.implicits._
    val anchors = Seq((1L, Timestamp.valueOf("2024-01-15 00:00:00")))
      .toDF("key", "anchor_ts")
    val source = Seq.empty[(Long, Timestamp, Long)]
      .toDF("key", "src_ts", "src_id")
    val out = AsOfJoin.nearest(anchors, source, Seq("key"),
      "anchor_ts", "src_ts", 1000000L, "src_id").collect()
    assert(out.length == 1)
    assert(out(0).isNullAt(out(0).fieldIndex("src_id")))
  }

  test("shingles of documents shorter than n produce no rows, not errors") {
    import spark.implicits._
    val docs = Seq((1L, "only two"), (2L, "a b c d")).toDF("doc_id", "text")
    val sh = TextOps.shingles(docs, "doc_id", "text", 3).collect()
    assert(sh.forall(_.getLong(0) == 2L)) // doc 1 (2 tokens) contributes nothing
    assert(sh.map(_.getString(1)).sorted.toSeq == Seq("a b c", "b c d"))
  }

  test("empty GeoJSON FeatureCollection ingests to zero rows") {
    val dir = Files.createTempDirectory("graft_geo_empty")
    val f = dir.resolve("empty.geojson")
    Files.writeString(f, """{"type":"FeatureCollection","features":[]}""")
    assert(GeoIngest.readPoints(spark, f.toString).count() == 0)
  }

  test("rolling range frame matches hand-computed trailing sums") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.queries.Exact.Dec
    // events at day 1, 3, 9, 20 — 7-day trailing window
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 10.0),
      (1L, Timestamp.valueOf("2024-01-03 00:00:00"), 20.0),
      (1L, Timestamp.valueOf("2024-01-09 00:00:00"), 40.0),
      (1L, Timestamp.valueOf("2024-01-20 00:00:00"), 80.0),
    ).toDF("user_id", "ts", "value")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
      .rangeBetween(-7L * 24 * 3600 * 1000, 0L)
    val out = ev.withColumn("ms", unix_millis(col("ts")))
      .withColumn("s", sum(col("value").cast(Dec)).over(w).cast("double"))
      .orderBy("ts").select("s").as[Double].collect()
    // day1: 10; day3: 10+20; day9: 20+40 (day1 fell out, day3 within 6d); day20: 80
    assert(out.toSeq == Seq(10.0, 30.0, 60.0, 80.0))
  }

  test("an all-masked pretraining example is dropped, not crashed on") {
    import spark.implicits._
    val ex = Seq(
      TinyDecoder.MaskedExample("all", Seq.fill(12)(0.0),
        Seq.fill(12)(true), Seq.fill(12)(0.3), 0),
      TinyDecoder.MaskedExample("ok", Seq.fill(12)(0.2),
        Seq.tabulate(12)(_ % 2 == 0), Seq.fill(12)(0.3), 0)).toDS()
    val out = TinyDecoder.reconstruct(ex).collect()
    assert(out.map(_.id).toSeq == Seq("ok"))
  }

  test("labelChips of an empty label table is an empty rectangle table") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Double, Double, Int)]
      .toDF("poly_id", "lon", "lat", "cls")
    assert(CropMapping.labelChips(empty, -16.45, 14.72).count() == 0)
  }

  test("pii patterns fire on planted spans and stay silent otherwise") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact me at alice@example.com or visit https://x.test/page"),
      (2L, "call 555 123 4567 tomorrow"),
      (3L, "nothing sensitive here"),
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("documents")
    val out = spark.sql(
      """SELECT doc_id,
        |  size(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+', 0)) AS n_email,
        |  size(regexp_extract_all(text, '[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}', 0)) AS n_phone,
        |  size(regexp_extract_all(text, 'https?://[^ ]+', 0)) AS n_url
        |FROM documents ORDER BY doc_id""".stripMargin).collect()
    assert(out(0).getInt(1) == 1 && out(0).getInt(3) == 1)
    assert(out(1).getInt(2) == 1)
    assert(out(2).getInt(1) == 0 && out(2).getInt(2) == 0 && out(2).getInt(3) == 0)
  }

  test("funnel stages are monotonically shrinking and never negative") {
    val rows = SparkEntry.queries("q_funnel")(spark, "/root/testdata/sf0.001")
      .orderBy("stage").collect()
    val byStage = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage.keySet.subsetOf(Set("1_view", "2_click", "3_purchase")))
    val v = byStage.getOrElse("1_view", 0L)
    val c = byStage.getOrElse("2_click", 0L)
    val p = byStage.getOrElse("3_purchase", 0L)
    assert(v >= c && c >= p, s"funnel not monotone: $byStage")
    assert(v > 0, "fixture has views; stage 1 cannot be empty")
  }

  test("pivot and unpivot round-trip to the plain groupBy counts") {
    val dir = "/root/testdata/sf0.001"
    val melted = SparkEntry.queries("q_unpivot")(spark, dir)
      .select(col("day"), col("event_type"), col("n"))
    val direct = Tables.events(spark, dir)
      .groupBy(dayofmonth(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(melted.exceptAll(direct).isEmpty && direct.exceptAll(melted).isEmpty,
      "unpivot(pivot(x)) must equal groupBy counts")
  }

  test("q_decontaminate flags a constructed verbatim copy and not a clean doc") {
    import spark.implicits._
    // drive the PRODUCTION query over a fixture table: benchmark doc 1
    // (doc_id < 50), doc 100 copies it verbatim, doc 101 is unrelated
    val phrase = (1 to 20).map(i => s"tok$i").mkString(" ")
    val clean = (1 to 20).map(i => s"other$i").mkString(" ")
    val tmp = Files.createTempDirectory("decon").toFile.getAbsolutePath
    Seq((1L, phrase, "en", "t", 1L), (100L, phrase, "en", "t", 1L),
        (101L, clean, "en", "t", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val flagged = SparkEntry.queries("q_decontaminate")(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged == Set(100L), s"got $flagged")
  }

  test("PQ search on a corpus smaller than the codebook budget still returns ranked results") {
    // 10 vectors < 16 anchors: every vector becomes an anchor; the
    // encode/ADC path must still produce a complete ranked answer
    import spark.implicits._
    val tmp = Files.createTempDirectory("pqsmall").toFile.getAbsolutePath
    val vecs = (0L until 10L).map { i =>
      (i, Array.tabulate(64)(j => math.sin((i * 64 + j).toDouble).toFloat), i % 3)
    }.toDF("vec_id", "embedding", "label")
    vecs.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = SparkEntry.queries("q_pq_search")(spark, tmp)
    val rows = out.collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    for ((q, rs) <- byQ)
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length), s"query $q ranks not dense")
  }
}
