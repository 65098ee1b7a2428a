package graft

import java.sql.Timestamp
import graft.operators.AsOfJoin

class AsOfJoinSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("nearest picks closest within tolerance, ties break on tieBreak, no-match keeps anchor with NULLs") {
    import spark.implicits._
    val anchors = Seq(
      (1L, ts("2024-01-15 00:00:00")),
      (1L, ts("2024-06-15 00:00:00")), // no source rows anywhere near → NULL match
      (2L, ts("2024-01-15 00:00:00")),
    ).toDF("key", "anchor_ts")
    val source = Seq(
      (1L, ts("2024-01-14 00:00:00"), 100L, 1.0), // dist 1d
      (1L, ts("2024-01-17 00:00:00"), 101L, 2.0), // dist 2d
      (2L, ts("2024-01-13 00:00:00"), 200L, 3.0), // dist 2d — tie with 201
      (2L, ts("2024-01-17 00:00:00"), 201L, 4.0), // dist 2d — tie, larger id loses
      (2L, ts("2024-05-01 00:00:00"), 202L, 5.0), // outside tolerance
    ).toDF("key", "src_ts", "src_id", "v")

    val out = AsOfJoin.nearest(anchors, source, Seq("key"),
        anchorTs = "anchor_ts", sourceTs = "src_ts",
        toleranceMs = 15L * 24 * 3600 * 1000, tieBreak = "src_id")
      .select("key", "anchor_ts", "src_id", "v")
      .as[(Long, Timestamp, Option[Long], Option[Double])]
      .collect().sortBy(r => (r._1, r._2.getTime))

    assert(out.length == 3) // exactly one row per anchor
    assert(out(0)._3.contains(100L)) // closest wins
    assert(out(1)._3.isEmpty && out(1)._4.isEmpty) // no match within tolerance
    assert(out(2)._3.contains(200L)) // tie broken by smaller src_id
  }
}
