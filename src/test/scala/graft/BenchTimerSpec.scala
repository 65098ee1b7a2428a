package graft

import org.apache.spark.sql.functions.{col, udf}

/** `Bench.timeQuery` must time the program the query declares: build
  * it inside the timer, then compute every output column of every
  * row. A `count()` in its place lets Catalyst prune a projection that
  * nothing reads; a Scala UDF that bumps an accumulator shows whether
  * its column was computed, once per row. */
class BenchTimerSpec extends SparkSpec {

  test("timeQuery builds the query once and computes every output column") {
    val calls = spark.sparkContext.longAccumulator("timeQuery-udf-calls")
    val twice = udf { (x: Long) => calls.add(1); x * 2 }
    val rows = 1000L
    var builds = 0
    val sec = Bench.timeQuery(spark, (s, _) => {
      builds += 1
      s.range(rows).toDF("id").select(col("id"), twice(col("id")).as("twice"))
    }, "unused-dir")
    assert(builds == 1)
    assert(sec > 0)
    assert(calls.value == rows,
      s"the UDF column ran ${calls.value} times for $rows rows: the timer pruned it")
  }
}
