package graft.tools

import graft.{Sessions, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic 10× scale-up of the sf0.1 fixture tables → a
  * derived `sf1` directory, used ONLY for the scale checkpoint bench
  * (BENCH_sf1): correctness stays graded on the driver-generated
  * fixtures. Replica i (0..9) shifts every key by i × its domain
  * stride so referential joins stay consistent (lineitem↔orders↔
  * customer, lineitem↔part/supplier) and group cardinalities grow
  * 10× like a real corpus. Content columns are perturbed
  * deterministically where sameness would change an algorithm's
  * complexity class rather than its scale:
  *  - documents: replica i applies a Caesar rotation of the letter
  *    alphabet (a→(a+i), case-preserved; rep 0 is the identity so
  *    sf0.1 embeds verbatim). Rotation is a bijection on the token
  *    alphabet, so lengths, Zipf shape, per-doc token counts and the
  *    WITHIN-replica near-dup structure are preserved exactly, while
  *    cross-replica docs share (almost) no shingles — so the TRUE
  *    near-dup pair set grows linearly in replicas, like a real
  *    crawl's, not quadratically (the round-13 fixture's 2-leading-
  *    char tag left replicas of one doc simhash/minhash-near each
  *    other: every LSH bucket grew 10× and the pair count 100× — a
  *    different workload, not a bigger one);
  *  - embeddings: replica i rotates the vector by i positions AND
  *    flips coordinate signs by a per-(replica, index) hash (rep 0
  *    identity). A diagonal ±1 transform is an isometry — norms and
  *    all WITHIN-replica cosines are exact-preserved — while the
  *    cosine between different replicas of the same vector becomes a
  *    random-sign sum ≈ 0, so ANN bucket occupancy and true-neighbor
  *    counts grow fixture-like (linearly), not degenerately.
  * nation/region stay fixed (TPC-H dimension semantics).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else new java.io.File("testdata_sf1").getAbsolutePath
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))

    val reps = spark.range(0, factor.toLong).toDF("rep")
    def scaled(df: DataFrame)(shift: (DataFrame, org.apache.spark.sql.Column) => DataFrame): DataFrame =
      shift(df.crossJoin(reps), col("rep"))

    def write(df: DataFrame, name: String): Unit = {
      df.drop("rep").repartition(16)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }

    // key strides (fixture maxima at sf0.1, rounded up)
    val OK = 200000L; val PK = 20000L; val SK = 1000L; val CK = 15000L
    val EV = 100000L; val U = 1500L; val DOC = 5000L; val VEC = 2000L

    write(scaled(Tables.lineitem(spark, srcDir)) { (d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + r * OK)
        .withColumn("l_partkey", col("l_partkey") + r * PK)
        .withColumn("l_suppkey", col("l_suppkey") + r * SK)
    }, "lineitem")

    write(scaled(Tables.orders(spark, srcDir)) { (d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + r * OK)
        .withColumn("o_custkey", col("o_custkey") + r * CK)
    }, "orders")

    write(scaled(Tables.customer(spark, srcDir)) { (d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + r * CK)
    }, "customer")

    write(scaled(Tables.part(spark, srcDir)) { (d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + r * PK)
    }, "part")

    write(scaled(Tables.supplier(spark, srcDir)) { (d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + r * SK)
    }, "supplier")

    Tables.nation(spark, srcDir).write.mode("overwrite")
      .parquet(s"$outDir/nation.parquet")
    Tables.region(spark, srcDir).write.mode("overwrite")
      .parquet(s"$outDir/region.parquet")

    write(scaled(Tables.events(spark, srcDir)) { (d, r) =>
      d.withColumn("event_id", col("event_id") + r * EV)
        .withColumn("user_id", col("user_id") + r * U)
    }, "events")

    val lower = "abcdefghijklmnopqrstuvwxyz"
    def rot(s: String, i: Int) = s.drop(i % s.length) + s.take(i % s.length)
    val caesar = (1 until factor).foldLeft(when(col("rep") === 0, col("text"))) {
      (acc, i) =>
        acc.when(col("rep") === i, translate(col("text"),
          lower + lower.toUpperCase, rot(lower, i) + rot(lower, i).toUpperCase))
    }
    write(scaled(Tables.documents(spark, srcDir)) { (d, r) =>
      d.withColumn("doc_id", col("doc_id") + r * DOC)
        .withColumn("text", caesar)
    }, "documents")

    write(scaled(Tables.embeddings(spark, srcDir)) { (d, r) =>
      d.withColumn("vec_id", col("vec_id") + r * VEC)
        .withColumn("embedding", expr(
          "concat(slice(embedding, CAST(rep AS INT) + 1, 64 - CAST(rep AS INT)), " +
            "slice(embedding, 1, CAST(rep AS INT)))"))
        .withColumn("embedding", expr(
          "CASE WHEN rep = 0 THEN embedding ELSE " +
            "transform(embedding, (x, i) -> " +
            "CASE WHEN pmod(hash(rep, i), 2) = 1 THEN -x ELSE x END) END"))
    }, "embeddings")

    spark.stop()
  }
}
