package graft

/** Local replica of the driver's smoke check: run [[SparkEntry.entry]]
  * on sf0.001 and require rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"entry rows=$n")
    assert(n > 0, "entry returned 0 rows")
    // SQL facade smoke: plain SQL + injected native function
    val sqlN = GraftSql.sql(spark, "/root/testdata/sf0.001",
      "SELECT count(*) AS n, min(cosine_sim(embedding, embedding)) AS selfsim FROM embeddings")
      .collect()(0)
    println(s"sql facade rows=${sqlN.getLong(0)} selfsim=${sqlN.getDouble(1)}")
    assert(sqlN.getLong(0) > 0)
    spark.stop()
  }
}
