package graft.tools

import org.apache.spark.sql.functions._

/** Regenerates the golden parquet fixtures that oracle the two
  * transformer-inference queries (see [[graft.queries.EncoderQueries]]
  * — the non-ANSI-SQL pair graded by fixture pin instead of a
  * recomputing oracle). Run after ANY intentional change to
  * TinyEncoder/TinyDecoder math, the series assembly, or the
  * quantization scale:
  *
  *   sbt "runMain graft.tools.FixtureGen"
  *
  * then commit `tools/fixtures/`. An UNINTENTIONAL output change
  * surfaces as a hash fail against the stale fixture — exactly the
  * regression the pin exists to catch.
  *
  * The encoder fixture unions all three scale factors' outputs, each
  * row tagged with its corpus's distinct-user count (15/150/1500 —
  * unique per sf) so one file serves whichever sf the driver grades;
  * the MAE fixture's input is the dir-independent ObservationsGen, so
  * a single row set serves every sf.
  */
object FixtureGen {
  /** `runMain graft.tools.FixtureGen arrow` rewrites ONLY the engine-
    * written Arrow sink fixtures (sink-06/sinkstream-07/sinktext-17)
    * from the same deterministic inputs ArrowCodecSpec pins byte-for-
    * byte; tools/arrow_golden.py then re-reads them with pyarrow and
    * emits their golden rows — the writer↔reference cross-check. */
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("arrow")) { writeArrowSinks(); return }
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val out = "tools/fixtures"
    val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val enc = sfs.map { dir =>
      val nUsers = graft.Tables.events(spark, dir)
        .agg(countDistinct(col("user_id"))).head().getLong(0)
      graft.queries.EncoderQueries.qEncoderEmbed(spark, dir)
        .withColumn("n_users", lit(nUsers))
    }.reduce(_ unionByName _)
    enc.coalesce(1).write.mode("overwrite").parquet(s"$out/q_encoder_embed")
    graft.queries.EncoderQueries.qMaeReconstruct(spark)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/q_mae_reconstruct")
    spark.stop()
  }

  private def writeArrowSinks(): Unit = {
    val d = java.nio.file.Paths.get("tools/fixtures/q_arrow_read")
    def put(name: String, bytes: Array[Byte]): Unit = {
      java.nio.file.Files.write(d.resolve(name), bytes)
      println(s"wrote $name (${bytes.length} bytes)")
    }
    // MUST match the byte-stability inputs in ArrowCodecSpec exactly
    val n6 = 7; val dim6 = 4
    put("sink-06.arrow", graft.sources.ArrowWrite.encodeFile(
      Array.tabulate(n6)(i => (i * 37 - 3).toLong),
      Array.tabulate(n6 * dim6)(k => (k * k % 29) * 0.25f - 1.5f), dim6))
    val n7 = 5; val dim7 = 2
    put("sinkstream-07.arrow", graft.sources.ArrowWrite.encodeStream(
      Array.tabulate(n7)(i => 900L + i),
      Array.tabulate(n7 * dim7)(k => (k % 13) * 0.5f - 2f), dim7))
    put("sinktext-17.arrow", graft.sources.ArrowWrite.encodeTextFile(
      Array(1000L, 1001L, 1002L, 1003L),
      Array("the quick brown fox", "", "café — naïve £9", "line\nbreak")))
  }
}
