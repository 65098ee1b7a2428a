package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-path join utilities (SURVEY §7.0 "minimize shuffles";
  * BASELINE north-star: every operator designed for 100 TB).
  */
object ScaleOps {

  /** Persist both sides as bucketed tables on the join key, so the
    * subsequent join is co-located: neither side shuffles — the plan
    * shows SortMergeJoin with NO Exchange above either scan. This is
    * the 100 TB layout for repeated fact-to-fact joins (the
    * reference's (time, x, y) multi-sensor merges, SURVEY §2.3): pay
    * the partitioned write once, join shuffle-free forever after. */
  def bucketize(spark: SparkSession, df: DataFrame, table: String,
                key: String, buckets: Int): Unit = {
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", s"${spark.conf.get("spark.sql.warehouse.dir")}/$table")
      .saveAsTable(table)
  }

  /** Corpus-scale deterministic ("seeded") shuffle — the engine path
    * for q_deterministic_shuffle's semantics (the reference's
    * fixed-seed `wds.shuffle`, dataops/dataset.py:270-276) WITHOUT the
    * partition-less rank window that caps the declared query at a
    * literal row bound. The permutation key is a seeded md5 of the id;
    * the global rank is assigned partition-offset style:
    *
    *  1. range-partition on (key, id) — the ONE shuffle; range bounds
    *     come from Spark's sampling, and because the local sort uses
    *     the same total order, bound placement cannot change the
    *     output, only the balance;
    *  2. sort within partitions (no further exchange);
    *  3. per-partition counts → cumulative offsets (numPartitions
    *     longs on the driver — control flow, not data);
    *  4. rank = offset(partition) + local index.
    *
    * Steps 3–4 are RDD `zipWithIndex` — exactly its contract.
    * zipWithIndex's offset pass (step 3) is a real job, so the sorted
    * rows are RDD-persisted first: that pass materializes the blocks
    * and the downstream action re-reads them, instead of running the
    * scan+md5+shuffle+sort pipeline twice per execution. RDD-level
    * persist, not Dataset.persist — no CacheManager entry to leak
    * past the query. Storage is SERIALIZED (MEMORY_AND_DISK_SER) to
    * bound the footprint — deserialized Row caches of a full table
    * run several× larger. The blocks live as long as the returned
    * DataFrame (the lifetime contract is at [[materializeOnce]]); an
    * evicted block recomputes deterministically (the shuffle map
    * output is fixed, the local sort total), so storage pressure can
    * never change results. Output: the input columns +
    * `shuffle_rank` (1-based). Deterministic and
    * partition-count-invariant (spec-pinned against the bounded
    * declared query). */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: String,
                           numPartitions: Int = 0): DataFrame = {
    val keyed = df.withColumn("_mk",
      md5(concat(lit(s"$seed|"), col(idCol).cast("string"))))
    globalRank(keyed, Seq(col("_mk"), col(idCol)), "shuffle_rank",
      numPartitions, dropAfterSort = Seq("_mk"))
  }

  /** Global 1-based rank by an arbitrary total order WITHOUT a global
    * window — the partition-offset machinery [[deterministicShuffle]]
    * uses, factored out for any sort key. Range-partition on the sort
    * columns (the ONE shuffle; Spark's sampled range bounds affect
    * only balance, never the output because the local sort uses the
    * same total order), sort within partitions, then RDD
    * `zipWithIndex` assigns rank = per-partition offset + local
    * index. `sortCols` must be a TOTAL order (append a unique id as
    * the last key) or ranks of tied rows are partitioning-dependent.
    * This is the distributed primitive behind exact rank statistics —
    * q_shuffle_rank's corpus permutation and q_auc's Mann–Whitney
    * rank sums — where a `Window.orderBy` with no partition would
    * funnel 100 TB through one task. Persistence is documented at
    * [[deterministicShuffle]]. */
  def globalRank(df: DataFrame, sortCols: Seq[Column], rankCol: String,
                 numPartitions: Int = 0,
                 dropAfterSort: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = dropAfterSort.foldLeft(
      df.repartitionByRange(n, sortCols: _*)
        .sortWithinPartitions(sortCols: _*))(_.drop(_))
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema :+ org.apache.spark.sql.types.StructField(
        rankCol, org.apache.spark.sql.types.LongType, nullable = false))
    val rows = sorted.rdd.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val ranked = rows.zipWithIndex.map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    spark.createDataFrame(ranked, schema)
  }

  /** Fused dual rank (r19 opt): the global 1-based rank `rankCol` AND
    * the within-group 1-based rank `groupRankCol` (group = the VALUE
    * of `groupCol`, any small-cardinality column) over ONE
    * range-partitioned sort — the one-pass form of the rank-identity
    * consumers (q_ks_test, q_max_concurrency) that previously ran two
    * or three [[globalRank]] passes over the same total order and
    * joined them back on a row key: three range shuffles + a
    * sort-merge join collapse into one shuffle and zero joins.
    *
    * Mechanics are exactly zipWithIndex's, generalized: one counting
    * pass collects per-(partition, group) row counts — a
    * numPartitions × |groups| driver artifact, control flow like
    * zipWithIndex's offsets — and the assignment pass adds each
    * partition's global and per-group prefix offsets to running local
    * counters. `sortCols` must be a total order (same contract as
    * [[globalRank]]); the group ranks equal ROW_NUMBER() OVER
    * (PARTITION BY group ORDER BY sortCols) exactly. */
  def globalRankDual(df: DataFrame, sortCols: Seq[Column], groupCol: String,
                     rankCol: String, groupRankCol: String,
                     numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val lt = org.apache.spark.sql.types.LongType
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema
        :+ org.apache.spark.sql.types.StructField(rankCol, lt, nullable = false)
        :+ org.apache.spark.sql.types.StructField(groupRankCol, lt, nullable = false))
    val gIdx = sorted.schema.fieldIndex(groupCol)
    val rows = sorted.rdd.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // counting pass (the zipWithIndex offset job, plus per-group tallies)
    val counts: Array[(Long, Map[Any, Long])] = rows
      .mapPartitionsWithIndex { (pi, it) =>
        val m = scala.collection.mutable.HashMap.empty[Any, Long]
        var c = 0L
        it.foreach { r => c += 1; val g = r.get(gIdx); m(g) = m.getOrElse(g, 0L) + 1 }
        Iterator((pi, (c, m.toMap)))
      }.collect().sortBy(_._1).map(_._2)
    val globalOff = counts.scanLeft(0L)(_ + _._1)
    val groupOff: Array[Map[Any, Long]] = counts.scanLeft(Map.empty[Any, Long]) {
      (acc, pc) => (acc.keySet ++ pc._2.keySet).map(g =>
        g -> (acc.getOrElse(g, 0L) + pc._2.getOrElse(g, 0L))).toMap
    }
    val ranked = rows.mapPartitionsWithIndex { (pi, it) =>
      var r = globalOff(pi)
      val seen = scala.collection.mutable.HashMap.empty[Any, Long]
      groupOff(pi).foreach { case (g, o) => seen(g) = o }
      it.map { row =>
        r += 1
        val g = row.get(gIdx)
        val gr = seen.getOrElse(g, 0L) + 1
        seen(g) = gr
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ r :+ gr)
      }
    }
    spark.createDataFrame(ranked, schema)
  }

  /** Eagerly localCheckpoint a relation that downstream subtrees read
    * MANY times (edge lists feeding degree tables, orientation, and
    * closure probes): without it Spark recomputes the full upstream
    * subtree — e.g. a fact-table self-join — once per read, which
    * turned the sf0.1 triangle census into 6 redundant edge builds.
    *
    * Lifetime of intermediate state — this object is its one home
    * (this helper and the persisted sort of [[globalRank]] /
    * [[globalRankDual]]): blocks belong to the DataFrame that reads
    * them. Nothing global holds the RDD; `localCheckpoint` and
    * `RDD.persist` register it with Spark's ContextCleaner, which
    * releases the blocks once the last DataFrame referencing them is
    * garbage-collected. Building a query twice, or concurrently in
    * one session, therefore yields independent blocks that no other
    * build can free. Iterative loops that retire state per round own
    * it themselves (GraphOps' lagged cleanup). The one remaining
    * limit: localCheckpoint truncates lineage, so a LOST block (its
    * executor or disk gone) cannot be recomputed and fails the
    * reading job with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. */
  private[graft] def materializeOnce(df: DataFrame): DataFrame =
    df.localCheckpoint()

  /** Salted join for skewed keys (SURVEY §2 "salting for skew"): the
    * build side replicates `salt` times, the probe side picks its
    * salt by hashing `probeSalt` — a caller-supplied DETERMINISTIC
    * per-row expression (a row id, a fact-table surrogate key) that
    * varies within a hot key so its rows spread over `salt` reducers
    * instead of one straggler. Determinism matters: a
    * nondeterministic salt (rand, monotonically_increasing_id) feeds
    * a shuffle key, and a fetch-failure recompute could re-salt rows
    * differently than the partially-fetched originals — duplicating
    * or dropping join rows. Result is identical to the plain inner
    * join (verified by spec).
    *
    * DECISION RULE — AQE skew split vs pre-salting (both arms
    * demonstrated in ScaleOpsSpec):
    *
    *  - A skewed join that READS SHUFFLE OUTPUT needs no salting:
    *    `spark.sql.adaptive.skewJoin` splits the oversized partition
    *    into mapper-range chunks at runtime (the final adaptive plan
    *    shows `skew=true`) once the partition exceeds both
    *    `skewedPartitionFactor` × median and
    *    `skewedPartitionThresholdInBytes`. Prefer this: zero code,
    *    reacts to skew you didn't predict, no build-side replication.
    *  - Pre-salt when there is NO shuffle stage for AQE to re-split:
    *    bucketed / storage-partitioned joins (the hot bucket stays one
    *    straggler task — spec shows AQE stays silent), stream-static
    *    joins planned per micro-batch against state-store partitioning,
    *    or plans where the join's output partitioning is required
    *    downstream so AQE declines to break it.
    *  - Also pre-salt when the hot keys are KNOWN ahead of time and
    *    task sizing must be deterministic (capacity planning for a
    *    recurring 100 TB job) rather than reactive — AQE only splits
    *    after the skewed map output already materialized; salting
    *    spreads it at map time. The cost: the build side replicates
    *    `salt`× — keep it for genuinely small-to-medium build sides. */
  def saltedInnerJoin(left: DataFrame, right: DataFrame, key: String,
                      salt: Int, probeSalt: Column): DataFrame = {
    val saltedLeft = left.withColumn("_salt",
      pmod(xxhash64(col(key), probeSalt), lit(salt)))
    val saltedRight = right
      .withColumn("_s", explode(expr(s"sequence(0, ${salt - 1})")))
      .withColumn("_salt", col("_s").cast("long")).drop("_s")
    saltedLeft.join(saltedRight, Seq(key, "_salt")).drop("_salt")
  }
}
