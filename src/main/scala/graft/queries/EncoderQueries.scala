package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{TinyDecoder, TinyEncoder}
import graft.pipelines.PretrainingTable
import graft.sources.ObservationsGen

/** End-to-end embedding pipeline: events → per-(user, month) padded
  * 17-band monthly series with validity masks → TinyEncoder
  * mapPartitions inference → embedding column + summary stats.
  *
  * Oracle: a transformer is not ANSI-SQL, so these two queries grade
  * against CHECKED-IN GOLDEN PARQUET FIXTURES (tools/fixtures/,
  * generated once by [[graft.tools.FixtureGen]]) — the q_terrain
  * graduation pattern (1e-6 floor quantization) applied to the last
  * two rows without a recomputing oracle. What the hash pin buys: the
  * fixed-seed linear algebra, masking semantics, and monthly-series
  * assembly must stay bit-reproducible under ANY partitioning or
  * plan change, at all three scale factors (the encoder fixture
  * carries per-sf rows keyed by the corpus's distinct-user count; the
  * MAE fixture is input-generator-driven and scale-free). The
  * SEMANTIC ground truth stays in TinyEncoderSpec/TinyDecoderSpec
  * (shape, determinism, mask invariance, masked-position prediction)
  * — the fixture pins regressions, the specs pin meaning.
  */
object EncoderQueries {

  /** 1e-6 floor quantization — the shared graduation scale (same
    * constant as q_terrain): kills any cross-platform libm ulp risk
    * while leaving six stable decimal digits for the hash. */
  private def q6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c.cast("double") * 1e6) / 1e6

  /** Events → PixelSeries: 12 monthly slots per user; band b of
    * month m = per-band-scaled monthly median (synthetic multi-band
    * lift of the single value column); empty months are masked
    * invalid — the reference's missing-month availability mask
    * (dataops/utils.py:18-93). */
  def qEncoderEmbed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val monthly = Tables.events(spark, dir)
      .groupBy(col("user_id"), (month(col("ts")) - 1).as("m"))
      .agg(percentile(col("value"), lit(0.5)).as("v"))
    val series = monthly
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("m"), col("v"))).as("mv"))
      .select(col("user_id").as("id"),
        expr(s"""transform(sequence(0, ${TinyEncoder.NumTimesteps - 1}, 1), mm ->
                 get(filter(mv, e -> e.m = mm), 0).v)""").as("slots"))
      .select(col("id"),
        expr(s"""transform(slots, s -> transform(sequence(1, ${TinyEncoder.NumBands}, 1),
                 b -> cast(coalesce(s, 0D) * b / ${TinyEncoder.NumBands}.0 AS float)))""").as("series"),
        expr("transform(slots, s -> s IS NOT NULL)").as("valid"))
      // explicit repartition: AQE coalesces this tiny-by-bytes shuffle
      // to one partition, which would serialize the compute-heavy
      // encode — row count, not byte size, is the cost driver here
      .repartition(32)
      .as[TinyEncoder.PixelSeries]
    TinyEncoder.embed(series)
      .toDF()
      .select(col("id").as("user_id"),
        size(col("embedding")).as("dim"),
        q6(expr("cast(aggregate(embedding, 0D, (a, v) -> a + cast(v AS double) * cast(v AS double)) AS double)")).as("sq_norm"),
        q6(col("embedding")(0)).as("e0"))
  }

  /** The complete MAE pretraining objective end-to-end: the masked
    * examples PretrainingTable produces feed TinyEncoder (unmasked
    * timesteps only) → TinyDecoder (mask-token re-insertion,
    * per-band-group reconstruction) → per-cell masked-slot MSE.
    * Rows-only like q_encoder_embed (a transformer is not ANSI SQL);
    * TinyDecoderSpec pins determinism, masked-position prediction,
    * and finiteness. */
  def qMaeReconstruct(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ex = PretrainingTable.build(ObservationsGen.observations(spark))
      .withColumn("id", concat_ws("|", col("tile"), col("cell_x"), col("cell_y")))
      .select(col("id"),
        col("x_eo").as("xEo"),
        col("mask"),
        expr("transform(y_eo, v -> coalesce(v, 0D))").as("yEo"),
        col("start_month").as("startMonth"))
      // same AQE note as qEncoderEmbed: cost is per-row compute
      .repartition(32)
      .as[TinyDecoder.MaskedExample]
    TinyDecoder.reconstruct(ex).toDF()
      .select(col("id"), col("n_masked"), q6(col("masked_mse")).as("masked_mse"),
        q6(col("recon_masked")(0)).as("recon0"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_encoder_embed" -> (qEncoderEmbed _),
  )

  /** Queries whose input does not scale with SF ([[graft.SparkEntry.fixedInput]]). */
  val fixedInput: Map[String, SparkSession => DataFrame] = Map(
    "q_mae_reconstruct" -> (qMaeReconstruct _),
  )

  /** Golden-fixture oracles (see the object doc): DuckDB reads the
    * checked-in engine-generated parquet instead of recomputing the
    * transformer. The encoder fixture holds all three scale factors'
    * rows, selected by the live corpus's distinct-user count (15/150/
    * 1500 at sf0.001/0.01/0.1 — unique per sf); the MAE fixture's
    * input is [[graft.sources.ObservationsGen]] (dir-independent), so
    * one row set serves every sf. */
  val oracle: Map[String, String] = Map(
    "q_encoder_embed" ->
      s"""SELECT user_id, dim, sq_norm, e0
        |FROM read_parquet('${graft.Fixtures.Root}/q_encoder_embed/*.parquet')
        |WHERE n_users = (SELECT COUNT(DISTINCT user_id) FROM events)""".stripMargin,
    "q_mae_reconstruct" ->
      s"""SELECT id, n_masked, masked_mse, recon0
        |FROM read_parquet('${graft.Fixtures.Root}/q_mae_reconstruct/*.parquet')""".stripMargin,
  )
}
