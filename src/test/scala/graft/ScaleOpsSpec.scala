package graft

import org.apache.spark.sql.functions._
import graft.operators.ScaleOps

class ScaleOpsSpec extends SparkSpec {

  test("bucketed tables join without an exchange on either side") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val a = ev.select(col("user_id"), col("value"))
    val b = ev.select(col("user_id"), col("event_type"))
    ScaleOps.bucketize(spark, a, "bk_a", "user_id", 8)
    ScaleOps.bucketize(spark, b, "bk_b", "user_id", 8)
    val joined = spark.table("bk_a").join(spark.table("bk_b"), "user_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    val expected = ev.groupBy("user_id").count()
      .agg(sum(col("count") * col("count"))).collect()(0).getLong(0)
    assert(joined.count() == expected)
  }

  test("partition-offset deterministic shuffle matches a global-window reference") {
    // the semantics pin: the engine path (range partition + local sort +
    // partition-offset rank) must equal one global ROW_NUMBER over the
    // same (md5 key, id) total order — the form the declared queries'
    // DuckDB oracle states
    val dir = "/root/testdata/sf0.001"
    val bounded = Tables.events(spark, dir)
      .filter(col("event_id") < 300).select("event_id")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(md5(concat(lit("seed42|"), col("event_id"))), col("event_id"))
    val reference = bounded
      .withColumn("shuffle_rank", row_number().over(w).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    withConfs("spark.sql.shuffle.partitions" -> "5") {
      val engine = ScaleOps.deterministicShuffle(bounded, "event_id", "seed42")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(engine == reference,
        s"engine path diverges from window reference: ${(engine diff reference).take(5)}")
    }
  }

  test("deterministic shuffle is partition-count-invariant and a full permutation corpus-wide") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001").select("event_id")
    val n = ev.count()
    def ranks(np: Int): Seq[(Long, Long)] =
      withConfs("spark.sql.shuffle.partitions" -> np.toString) {
        val df = ScaleOps.deterministicShuffle(ev, "event_id", "seed42")
        assert(df.rdd.getNumPartitions == np)
        df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      }
    val a = ranks(3)
    val b = ranks(11)
    assert(a == b, "rank depends on partition count")
    assert(a.map(_._2).sorted == (1L to n), "ranks are not a permutation of 1..N")
  }

  test("fused dual rank matches global + per-group ROW_NUMBER references") {
    // globalRankDual (the r19 one-pass form behind q_ks_test /
    // q_max_concurrency) must equal ROW_NUMBER() OVER (ORDER BY keys)
    // and ROW_NUMBER() OVER (PARTITION BY group ORDER BY keys) over
    // the same total order, at any partition count
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
      .filter(col("event_id") < 500)
      .select(col("event_id"), col("value"),
        pmod(col("user_id"), lit(3)).cast("int").as("g"))
    val keys = Seq(col("value"), col("g"), col("event_id"))
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy(keys: _*)
    val wGrp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(keys: _*)
    val reference = ev
      .withColumn("r", row_number().over(wAll).cast("long"))
      .withColumn("rs", row_number().over(wGrp).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    for (np <- Seq(1, 4, 7)) withConfs("spark.sql.shuffle.partitions" -> np.toString) {
      val engine = ScaleOps.globalRankDual(ev, keys, "g", "r", "rs")
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
      assert(engine == reference,
        s"dual rank at np=$np diverges: ${(engine diff reference).take(5)}")
    }
  }

  test("deterministic shuffle plans no partition-less window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    val ev = Tables.events(spark, "/root/testdata/sf0.001").select("event_id")
    val df = ScaleOps.deterministicShuffle(ev, "event_id", "seed42")
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: LogicalWindow if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty)
  }

  /** Run `body` with the given SQL confs, restoring previous values
    * (shared session — a leaked conf would bend sibling suites). */
  private def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) =>
      k -> util.Try(spark.conf.get(k)).toOption }
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** 90k-row fixture where one key owns ~89k rows — a partition an
    * order of magnitude beyond its siblings once shuffled. */
  private def skewedPair = {
    import spark.implicits._
    val left = spark.range(90000)
      .selectExpr("IF(id < 89000, 7L, id) AS k", "id AS lv",
        "repeat('x', 64) AS pad")
    val right = Seq((7L, "hot"), (89500L, "cold"), (89900L, "cold2")).toDF("k", "rv")
    (left, right)
  }

  test("AQE splits a skewed SHUFFLED join at runtime — no pre-salting needed") {
    // the decision rule's first arm (ScaleOps.saltedInnerJoin scaladoc):
    // when the skewed join reads shuffle output, AQE's runtime skew
    // split handles it — the final adaptive plan carries skew=true
    val (left, right) = skewedPair
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val joined = left.join(right, "k")
      // collect() executes THIS QueryExecution (count() would build a
      // new one and leave this plan un-finalized)
      assert(joined.collect().length == 89000 + 1 + 1)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed join:\n$plan")
    }
  }

  test("AQE cannot split a skewed BUCKETED join — the pre-salting arm") {
    // the decision rule's second arm: a storage-partitioned join has no
    // shuffle stage for AQE to re-split, so the hot bucket stays one
    // straggler task and pre-salting is the available lever
    val (left, right) = skewedPair
    ScaleOps.bucketize(spark, left, "bk_skew_l", "k", 8)
    ScaleOps.bucketize(spark, right, "bk_skew_r", "k", 8)
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB") {
      val joined = spark.table("bk_skew_l").join(spark.table("bk_skew_r"), "k")
      assert(joined.collect().length == 89000 + 1 + 1)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"fixture lost its bucketed co-location:\n$plan")
      assert(!plan.contains("skew=true"),
        s"AQE unexpectedly split a shuffle-free join:\n$plan")
      // the lever that DOES work here: pre-salting (correctness pinned
      // against the plain join below and in the dedicated test)
      val salted = ScaleOps.saltedInnerJoin(
          spark.table("bk_skew_l"), spark.table("bk_skew_r"), "k",
          salt = 8, probeSalt = col("lv"))
      assert(salted.count() == 89000L + 1 + 1)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // the third join-scale lever beside AQE skew split and pre-salting:
    // a selective dimension filter is turned into a bloom filter
    // evaluated INSIDE the fact scan (might_contain on the join key),
    // so at 100 TB most fact rows die at the scan instead of riding
    // the shuffle to the join — Spark injects it at optimization time
    // once the sides cross the size thresholds (lowered here to fit
    // the fixture; production defaults 10MB/10GB)
    withConfs(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val dir = "/root/testdata/sf0.01"
      val l = Tables.lineitem(spark, dir).select("l_partkey", "l_quantity")
      val p = Tables.part(spark, dir).filter(col("p_size") === 1)
        .select("p_partkey")
      val j = l.join(p, col("l_partkey") === col("p_partkey"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
      // the filter must not change results: equal to the unfiltered plan
      val n = j.count()
      val plainN = {
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        try l.join(p, col("l_partkey") === col("p_partkey")).count()
        finally spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      }
      assert(n == plainN, s"bloom-filtered join changed the row count: $n vs $plainN")
    }
  }

  test("salted join returns exactly the plain join's rows under skew") {
    import spark.implicits._
    // heavily skewed: 90% of left rows share one key
    val left = (1 to 1000).map(i => (if (i <= 900) 7L else i.toLong, i)).toDF("k", "lv")
    val right = Seq((7L, "hot"), (950L, "cold"), (999L, "cold2")).toDF("k", "rv")
    val plain = left.join(right, "k").select("k", "lv", "rv")
      .collect().map(_.toSeq).sortBy(_.toString)
    val salted = ScaleOps.saltedInnerJoin(left, right, "k", salt = 8,
        probeSalt = org.apache.spark.sql.functions.col("lv"))
      .select("k", "lv", "rv").collect().map(_.toSeq).sortBy(_.toString)
    assert(salted.length == plain.length)
    assert(salted.toSeq == plain.toSeq)
  }
}
