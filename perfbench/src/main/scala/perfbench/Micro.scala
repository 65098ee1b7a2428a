package perfbench

import graft.{Fixtures, Tables}
import graft.sources._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The `sources` and `Sinks` layers timed through their public entry
  * points, outside any query: codec decoders over the committed
  * fixture bytes, shard writers over DataFrames built from the seeded
  * inputs. Each figure is the median of several repetitions. */
object Micro {
  private val MB = 1024.0 * 1024.0
  private val Reps = 5

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def fixtures(dir: String, suffixes: String*): Seq[Array[Byte]] =
    Files.list(Paths.get(Fixtures.path(dir))).iterator().asScala
      .filter(p => Files.isRegularFile(p) && suffixes.exists(p.getFileName.toString.endsWith))
      .toSeq.sortBy(_.toString).map(Files.readAllBytes)

  /** MB/s of `decode` over every file: after 100 ms of warm-up sweeps,
    * the median over repetitions of sweeps repeated for at least 50 ms. */
  private def decodeRate(files: Seq[Array[Byte]], decode: Array[Byte] => Any): Double = {
    val bytes = files.map(_.length.toLong).sum
    def sweepFor(ns: Long): Long = {
      var n = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < ns) { files.foreach(decode); n += 1 }
      n
    }
    sweepFor(100000000L)
    median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      val n = sweepFor(50000000L)
      n * bytes / MB / ((System.nanoTime() - t0) / 1e9)
    })
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** (seconds, MB written): median seconds over repetitions after one
    * warm-up write, each into an emptied directory. */
  private def sinkCost(dir: Path, write: String => Unit): (Double, Double) = {
    var mb = 0.0
    val times = (0 to Reps).map { _ =>
      deleteTree(dir)
      val t0 = System.nanoTime()
      write(dir.toString)
      val s = (System.nanoTime() - t0) / 1e9
      mb = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum / MB
      s
    }
    deleteTree(dir)
    (median(times.tail), mb)
  }

  def run(spark: SparkSession, input: String, work: String): Map[String, Double] = {
    val decoders = Seq[(String, Seq[Array[Byte]], Array[Byte] => Any)](
      ("jpeg", fixtures("q_jpeg_decode", ".jpg"), JpegCodec.decode),
      ("hdf5", fixtures("q_hdf5_read", ".h5"), Hdf5Codec.decode),
      ("arrow", fixtures("q_arrow_read", ".arrow"), ArrowCodec.decode),
      ("pdf", fixtures("q_pdf_text", ".pdf"), PdfCodec.decode),
      ("warc", fixtures("q_warc_extract", ".warc", ".warc.gz"), WarcCodec.parse))
    val sources = decoders.map { case (n, files, f) =>
      s"sources.$n.decode_mb_s" -> decodeRate(files, b => try f(b) catch { case _: Throwable => None })
    }

    val docs = Tables.documents(spark, input).cache()
    val vecs = Tables.embeddings(spark, input).cache()
    val events = Tables.events(spark, input).cache()
    Seq(docs, vecs, events).foreach(_.count())
    val frames = Seq[(String, String => Unit)](
      "tar" -> (d => Sinks.writeTarShards(
        docs.select(col("doc_id").as("key"), encode(col("text"), "UTF-8").as("payload")), d, 144)),
      "arrow" -> (d => Sinks.writeArrowShards(
        vecs.select(col("vec_id").as("id"), col("embedding")), d, 256)),
      "jsonl_gz" -> (d => Sinks.writeJsonlGz(
        docs.select(col("doc_id").as("key"), to_json(struct(col("*"))).as("json")), d, 1000)),
      "npy" -> (d => Sinks.writeNpyTiles(
        vecs.select(col("vec_id").as("tile_id"), lit(8).as("rows"), lit(8).as("cols"),
          col("embedding").as("values")), d)),
      "netcdf" -> (d => Sinks.writeNetcdfFiles(netcdfInput(events), d)))
    val sinks = frames.flatMap { case (n, w) =>
      val (s, mb) = sinkCost(Paths.get(work, s"sink_$n"), w)
      Seq(s"sinks.$n.write_s" -> s, s"sinks.$n.mb" -> mb)
    }
    Seq(docs, vecs, events).foreach(_.unpersist())
    (sources ++ sinks).toMap
  }

  /** One prediction dataset per user bucket: aligned coordinate and
    * value arrays. */
  private def netcdfInput(events: DataFrame): DataFrame =
    events.groupBy(concat(lit("g"), (col("user_id") % 16).cast("string")).as("group_id"))
      .agg(sort_array(collect_list(col("value"))).as("preds"))
      .select(col("group_id"),
        expr("transform(preds, (x, i) -> CAST(i AS DOUBLE) / 100)").as("lat"),
        expr("transform(preds, (x, i) -> -CAST(i AS DOUBLE) / 100)").as("lon"),
        col("preds"))
}
