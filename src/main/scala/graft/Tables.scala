package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}

/** Loaders for the driver-generated synthetic tables (see TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. All operators take these
  * DataFrames as inputs; at 100 TB the same loaders would point at a
  * partitioned table root (`PARTITIONED BY (date_month, tile)`) and
  * Catalyst partition pruning keeps scans bounded — nothing in the
  * operator layer assumes single-file inputs. Such a root needs
  * partition discovery, which [[parquet]] refuses rather than skips.
  */
object Tables {
  /** A batch parquet read that starts no Spark job: the schema is the
    * footer schema of the first data file, read on the driver, which is
    * the file Spark's own inference reads without `mergeSchema` (sorted
    * path order, `_`/`.` names skipped). The converter is built from the
    * session conf at call time, so it sees settings such as `events`'
    * `nanosAsLong`. `path` is one parquet file or a flat directory of
    * them; a partitioned directory is read with `spark.read.parquet`. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val (dirs, files) = root.getFileSystem(conf).listStatus(root)
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      .partition(_.isDirectory)
    require(dirs.isEmpty, s"$path holds directories; read a partitioned table with spark.read.parquet")
    val first = files.sortBy(_.getPath.toString).headOption
      .getOrElse(throw new java.io.FileNotFoundException(s"no parquet data file under $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(first, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(path)
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** events.parquet has shipped ts as either TIMESTAMP(NANOS) (which
    * Spark 4 refuses to read natively — read the raw int64 nanos via
    * the legacy conf and truncate to microseconds, matching how DuckDB
    * reads the same file) or plain TIMESTAMP(MICROS) without timezone
    * (read as NTZ — cast to the session type, identity under the UTC
    * session). Dispatch on the observed schema so both vintages load
    * to the same TIMESTAMP column.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _: TimestampNTZType =>
        // NTZ→TimestampType is value-preserving only when the session
        // renders instants in UTC; under any other zone the cast would
        // silently shift every timestamp. Fail loudly instead.
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "events(): NTZ ts requires spark.sql.session.timeZone=UTC " +
            "(Sessions.local sets it); refusing a zone-shifting cast")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType => raw
      case other => throw new IllegalArgumentException(
        s"events.parquet ts has unsupported type $other — expected " +
          "TIMESTAMP(NANOS) (int64 via legacy nanosAsLong), TIMESTAMP_NTZ, " +
          "or TIMESTAMP; a new testdata vintage needs an explicit branch here")
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
