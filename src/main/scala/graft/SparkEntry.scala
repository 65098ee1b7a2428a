package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query registries. Every implemented
  * operator from SURVEY.md §2 has an entry in [[queries]]; where the
  * semantics are ANSI-SQL-expressible the matching DuckDB oracle text
  * is in [[oracleSql]] (same column names — the driver's compare sorts
  * columns by name before hashing).
  */
object SparkEntry {

  private lazy val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (RelationalQueries.queries, RelationalQueries.oracle),
      (TimeSeriesQueries.queries, TimeSeriesQueries.oracle),
      (ScalarFuncQueries.queries, ScalarFuncQueries.oracle),
      (TextQueries.queries, TextQueries.oracle),
      (VectorQueries.queries, VectorQueries.oracle),
      (PipelineQueries.queries, PipelineQueries.oracle),
      (MultimodalQueries.queries, MultimodalQueries.oracle),
      (MlQueries.queries, MlQueries.oracle),
      (RasterQueries.queries, RasterQueries.oracle),
      (OlapExtraQueries.queries, OlapExtraQueries.oracle),
      (EncoderQueries.queries, EncoderQueries.oracle),
      (StatQueries.queries, StatQueries.oracle),
      (RetrievalQueries.queries, RetrievalQueries.oracle),
      (AnalyticsQueries.queries, AnalyticsQueries.oracle),
    )

  /** The fixed-input kind: queries whose input is a committed fixture
    * or data generated in-process, so they take no sf directory. */
  private lazy val fixedModules: Seq[Map[String, SparkSession => DataFrame]] =
    Seq(TextQueries.fixedInput, MultimodalQueries.fixedInput, EncoderQueries.fixedInput)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The reference's core pipeline shape (monthly.py:722-735): monthly
    * median composite per entity + a normalized-difference index over
    * two composite bands — here the events table stands in for the
    * observations table (SURVEY §1.1).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val monthly = Tables.events(spark, dir)
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM").as("month"))
      .agg(
        percentile(col("value"), lit(0.5)).as("median_value"),
        Exact.dmean(col("value")).as("mean_value"),
        count(lit(1)).as("n_obs"))
    // normalized difference of the two composites — NDVI shape
    // (common_ci.py:89-100) with divide-by-zero guard (eesrtm.py:151-162)
    monthly.withColumn("nd_index",
      when(col("median_value") + col("mean_value") =!= 0,
        (col("median_value") - col("mean_value")) /
        (col("median_value") + col("mean_value"))).otherwise(lit(0.0)))
  }

  /** The queries whose input does not scale with SF. */
  def fixedInput: Map[String, SparkSession => DataFrame] = fixedModules.reduce(_ ++ _)

  /** One entry per implemented operator from SURVEY.md §2; a fixed-input
    * query is adapted to the driver's shape and ignores the directory. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val named = modules.flatMap(_._1) ++ fixedModules.flatMap(_.map { case (name, q) =>
      name -> ((spark: SparkSession, _: String) => q(spark)) })
    // a name collision across modules or kinds would silently drop a query
    require(named.map(_._1).distinct.size == named.size,
      s"duplicate query names: ${
        named.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }.mkString(", ")}")
    named.toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.map(_._2).reduce(_ ++ _)
}
