package graft

import graft.sources.Sinks

/** Table-maintenance semantics a long-running lake depends on:
  * dynamic partition overwrite (replace only the partitions the batch
  * touches) and small-file compaction (rewrite at a target file count
  * with row identity). */
class LakehouseSpec extends SparkSpec {

  test("dynamic partition overwrite replaces only the touched partition") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dynpart").toString + "/t"
    Seq(("click", 1L), ("click", 2L), ("view", 3L), ("purchase", 4L))
      .toDF("event_type", "event_id")
      .write.partitionBy("event_type").parquet(dir)
    // a 'static' overwrite of the click slice would TRUNCATE the table;
    // dynamic mode replaces only partitions present in the new data
    Seq(("click", 99L)).toDF("event_type", "event_id")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(dir)
    val rows = spark.read.parquet(dir)
      .select("event_type", "event_id").as[(String, Long)].collect().toSet
    assert(rows == Set(("click", 99L), ("view", 3L), ("purchase", 4L)),
      s"untouched partitions lost or stale rows kept: $rows")
  }

  test("compaction reduces file count, preserves rows exactly, and is re-runnable") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    df.repartition(24).write.parquet(dir)
    val beforeRows = spark.read.parquet(dir).orderBy("id").collect().toSeq
    val (before, after) = Sinks.compact(spark, dir, targetFiles = 3)
    assert(before >= 20, s"fixture did not fragment: $before files")
    assert(after <= 3, s"compaction left $after files")
    val afterRows = spark.read.parquet(dir).orderBy("id").collect().toSeq
    assert(afterRows == beforeRows, "compaction changed table contents")
    // idempotent: compacting a compacted table is a no-op-shaped rewrite
    val (b2, a2) = Sinks.compact(spark, dir, targetFiles = 3)
    assert(b2 == after && a2 <= 3)
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("compaction self-heals debris from a crashed earlier run") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("compactcrash").toString
    val dir = base + "/t"
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(8).write.parquet(dir)
    // leftover _compacting (crashed before swap) and stale _precompact
    Files.createDirectories(Paths.get(dir + "_compacting"))
    Files.write(Paths.get(dir + "_compacting", "junk.parquet"), Array[Byte](1))
    Files.createDirectories(Paths.get(dir + "_precompact"))
    val (_, after) = Sinks.compact(spark, dir, targetFiles = 2)
    assert(after <= 2)
    assert(spark.read.parquet(dir).count() == 100, "rows lost through debris")
    assert(!Files.exists(Paths.get(dir + "_precompact")))
    assert(!Files.exists(Paths.get(dir + "_compacting")))
    // crash-window state: table dir gone, _precompact holds the data
    Files.move(Paths.get(dir), Paths.get(dir + "_precompact"))
    val (_, a3) = Sinks.compact(spark, dir, targetFiles = 2)
    assert(a3 <= 2)
    assert(spark.read.parquet(dir).count() == 100, "crash-window restore lost rows")
  }

  test("index artifacts build once, land as warehouse tables, and round-trip") {
    import graft.operators.IndexStore
    import spark.implicits._
    var builds = 0
    // unique key per run: the warehouse store deliberately SURVIVES
    // across sessions, so a fixed key would read a previous test
    // run's artifact and never exercise the build path
    val key = IndexStore.keyOf("lakehouse-spec-fixture",
      java.util.UUID.randomUUID().toString)
    def table = IndexStore.materialize(spark, "spec_artifact", key) {
      builds += 1
      Seq((1, 0, 0.5), (1, 1, -0.25), (2, 0, 1.0)).toDF("cid", "pos", "c")
    }
    val first = table.orderBy("cid", "pos").collect().toSeq
    val second = table.orderBy("cid", "pos").collect().toSeq
    assert(builds == 1, s"artifact rebuilt on re-read ($builds builds)")
    assert(first == second && first.size == 3, "artifact did not round-trip")
    // the returned plan must SCAN the stored table, not inline the build
    val plan = table.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet") || plan.contains("Scan parquet"),
      s"consumer plan is not a table scan:\n$plan")
    // dropping the stored table forces a deterministic rebuild
    IndexStore.drop(spark, "spec_artifact", key)
    val fresh = table.count()
    assert(fresh == 3 && builds == 2, "drop() did not force a rebuild")
  }

  test("dataKey fingerprints the corpus: rewriting data in place rebuilds") {
    import graft.operators.IndexStore
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val dataDir = Files.createTempDirectory("graft-fp").toString
    Files.write(Paths.get(dataDir, "part-0"), "v1-bytes".getBytes("UTF-8"))
    var builds = 0
    def table(salt: String) =
      IndexStore.materialize(spark, "spec_fp",
          IndexStore.dataKey(dataDir, salt)) {
        builds += 1
        Seq((builds, "artifact")).toDF("build", "tag")
      }
    val salt = java.util.UUID.randomUUID().toString
    assert(table(salt).count() == 1 && builds == 1)
    assert(table(salt).count() == 1 && builds == 1, "same bytes rebuilt")
    // rewrite the corpus in place: same path, new bytes + mtime —
    // the round-12 staleness hazard. The key must change and rebuild.
    Files.write(Paths.get(dataDir, "part-0"), "v2-bytes-longer".getBytes("UTF-8"))
    assert(table(salt).select("build").as[Int].head() == 2,
      "stale artifact served after in-place corpus rewrite")
    assert(builds == 2)
    // knobs still differentiate keys for identical data
    assert(IndexStore.dataKey(dataDir, "k=16") != IndexStore.dataKey(dataDir, "k=32"))
    // a missing dir fingerprints without throwing
    assert(IndexStore.fingerprint(dataDir + "-absent") == "absent")
  }
}
