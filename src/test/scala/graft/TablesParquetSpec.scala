package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{array, col, struct}
import org.apache.spark.sql.types.MetadataBuilder

import graft.operators.IndexStore

/** `Tables.parquet`, the one batch parquet load: the schema it reads
  * from the first data file's footer on the driver is exactly the one
  * Spark's inference job gives, a missing or empty path still fails,
  * and no table or warm index load starts a Spark job. */
class TablesParquetSpec extends SparkSpec {

  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1").map("/root/testdata/" + _)
  private val loads = Seq[(String, String => Unit)](
    "lineitem" -> (Tables.lineitem(spark, _)), "orders" -> (Tables.orders(spark, _)),
    "customer" -> (Tables.customer(spark, _)), "supplier" -> (Tables.supplier(spark, _)),
    "part" -> (Tables.part(spark, _)), "nation" -> (Tables.nation(spark, _)),
    "region" -> (Tables.region(spark, _)), "events" -> (Tables.events(spark, _)),
    "documents" -> (Tables.documents(spark, _)), "embeddings" -> (Tables.embeddings(spark, _)))
  private val tables = loads.map(_._1)

  /** A multi-file IndexStore artifact with nested, non-nullable and
    * metadata-carrying columns, and the directory it is stored in. */
  private lazy val artifact = {
    val meta = new MetadataBuilder().putString("comment", "row label").build()
    val key = IndexStore.keyOf("TablesParquetSpec", System.nanoTime().toString)
    val read = () => IndexStore.materialize(spark, "tables_parquet_spec", key) {
      spark.range(0, 40, 1, 4).select(col("id"),
        array(col("id").cast("float"), (col("id") * 2).cast("float")).as("v"),
        struct(col("id").cast("int").as("k"), col("id").cast("string").as("s")).as("st"),
        col("id").cast("string").as("label", meta))
    }
    val cold = read()
    val dir = new java.io.File(new java.net.URI(cold.inputFiles.head)).getParent
    (read, dir)
  }

  test("the footer schema equals the inferred schema for every table, events and an index artifact") {
    val paths = for (d <- sfDirs; t <- tables) yield s"$d/$t.parquet"
    // events' TIMESTAMP(NANOS) vintage reads as int64 only under this
    // setting, which the converter must see at call time
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val (_, dir) = artifact
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) > 1)
    val bad = (paths :+ dir).flatMap { p =>
      val inferred = spark.read.parquet(p).schema
      val footer = Tables.parquet(spark, p).schema
      // StructField equality covers nullability and field metadata
      if (footer == inferred) None
      else Some(s"  $p:\n    footer   ${footer.json}\n    inferred ${inferred.json}")
    }
    if (bad.nonEmpty) fail(bad.mkString("\n", "\n", ""))
  }

  test("a missing path and an empty directory fail, never load an empty frame") {
    val missing = Files.createTempDirectory("graft_tables_missing").resolve("absent.parquet")
    intercept[Exception](Tables.parquet(spark, missing.toString))
    val empty = Files.createTempDirectory("graft_tables_empty")
    intercept[Exception](Tables.parquet(spark, empty.toString))
    Files.write(empty.resolve("_SUCCESS"), Array.emptyByteArray)
    intercept[Exception](Tables.parquet(spark, empty.toString))
  }

  test("no table load and no warm IndexStore read starts a Spark job") {
    val (read, _) = artifact
    val jobs = (for (d <- sfDirs; (t, load) <- loads) yield
      s"$d $t" -> JobCount.during(spark)(load(d))._2) :+
      ("warm IndexStore.materialize" -> JobCount.during(spark)(read())._2)
    val bad = jobs.filter(_._2 != 0)
    assert(bad.isEmpty, bad.map { case (n, j) => s"  $n: $j jobs" }.mkString("\n", "\n", ""))
  }

  test("src/main has one batch parquet load outside the listed partitioned reads") {
    // Tables.parquet, then the reads of a partitioned or just-written
    // directory: Sinks.compact and writeManifest, the streaming prior
    // read, StreamDemo's three checks and ScaleGen's row count
    val allowed = Map("Tables.scala" -> 1, "Sinks.scala" -> 2, "StreamingPipelines.scala" -> 1,
      "StreamDemo.scala" -> 3, "ScaleGen.scala" -> 1)
    // a streaming scan is `readStream...parquet(...)`: it stays apart
    val read = """\bread\b(?:\s*\.\s*\w+\s*\([^()]*\))*\s*\.\s*parquet\s*\(|""" +
      """\bread\b\s*\.\s*format\s*\(\s*"parquet"\s*\)"""
    // literals are kept: a read inside an interpolated string is code
    val sites = SourceScan.sites(SourceScan.code(_ => true), read.r)
    val counts = sites.groupBy(_._1).map { case (f, s) => f -> s.size }
    assert(counts == allowed, sites.map { case (n, l) => s"  $n:$l" }.mkString("\n", "\n", ""))
  }
}
