package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StructField, StructType}

/** Structured Streaming surface (SURVEY §2.10).
  *
  * The reference has three incremental patterns, none of them a real
  * stream processor; each maps onto Structured Streaming:
  *
  *  1. the GCS-triggered Cloud Function converting each newly landed
  *     tif (dataops/main.py:24-43, idempotent via skip-if-exists) →
  *     a file-source stream + checkpointed exactly-once sink;
  *  2. single-pass accumulation of per-band sufficient statistics
  *     across files (src/utils.py:19-49) → stateful aggregation in
  *     update mode;
  *  3. month-window composites with a bounded "late image" horizon
  *     (the 15-day nearest-image tolerance, dynamicworld.py:108-137)
  *     → tumbling windows + watermark.
  *
  * Scale notes: state is keyed by (user/cell), so it shards across
  * executors; the watermark bounds state size (windows older than the
  * horizon are finalized and evicted); file-source ingest paces with
  * `maxFilesPerTrigger` — the reference's 3,000-task backpressure gate
  * (ee_pipeline.py:96) becomes a one-line option.
  */
object StreamingPipelines {

  /** Pattern 3: tumbling 30-day composites with a 15-day watermark —
    * the streaming form of the monthly median composite; aggregates
    * restricted to ones with streaming partial-merge support. */
  def windowedComposite(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "15 days")
      .groupBy(col("user_id"), window(col("ts"), "30 days"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("user_id"), col("window.start").as("w_start"),
        col("n"), col("sum_value"), col("min_value"), col("max_value"))

  /** Session windows (engine surface beyond the reference,
    * SURVEY §2.10 last row): events group into per-user sessions
    * closed by a 30-minute inactivity gap; the watermark bounds open
    * session state. */
  def sessionizedActivity(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("n_events"), col("session_value"))

  case class Obs(user_id: Long, value: Double)
  case class RunningStats(user_id: Long, n: Long, sum2: Long, sumsq4: Long) {
    def mean: Double = sum2.toDouble / 100.0 / n
  }

  /** Pattern 2: per-key running sufficient statistics with
    * mapGroupsWithState — the exact integer buffer from
    * [[graft.operators.ExactSuffStats]] carried as streaming state,
    * so restarts/retries never change results. */
  def runningStats(obs: Dataset[Obs]): Dataset[RunningStats] = {
    import obs.sparkSession.implicits._
    obs.groupByKey(_.user_id)
      .mapGroupsWithState[RunningStats, RunningStats](GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[Obs], state: GroupState[RunningStats]) =>
          val prev = state.getOption.getOrElse(RunningStats(key, 0L, 0L, 0L))
          val next = rows.foldLeft(prev) { (s, o) =>
            val c = math.round(o.value * 100.0)
            RunningStats(key, s.n + 1, s.sum2 + c, s.sumsq4 + c * c)
          }
          state.update(next)
          next
      }
  }

  case class HotSet(key: String, n_seen: Long, items: Seq[(String, Long)])

  /** Streaming dual of the batch q_heavy_hitters: a per-key running
    * Misra–Gries summary as `mapGroupsWithState` state (update mode),
    * sharing the batch Aggregator's shrink step
    * ([[graft.operators.Sketches.mgShrink]]) so both surfaces carry
    * the SAME guarantees — every item with running frequency
    * > n_seen/(k+1) is in the emitted hot set, undercounted by at
    * most that much. State per key is k counters + one count:
    * knob-bounded forever on an unbounded stream — the hot-token /
    * skew-key monitor a continuous ingest pipeline runs beside the
    * batch sketch. Emitted items are (count desc, item asc)-sorted so
    * the output is deterministic given arrival order. */
  def runningHeavyHitters(events: Dataset[(String, String)],
      k: Int): Dataset[HotSet] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Map[String, Long]), HotSet](
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[(Long, Map[String, Long])]) =>
          val (n0, m0) = state.getOption.getOrElse((0L, Map.empty[String, Long]))
          val buf = scala.collection.mutable.Map[String, Long](m0.toSeq: _*)
          var n = n0
          var shrunk = buf
          rows.foreach { case (_, item) =>
            n += 1
            shrunk(item) = shrunk.getOrElse(item, 0L) + 1L
            if (shrunk.size > k)
              shrunk = graft.operators.Sketches.mgShrink(shrunk, k)
          }
          state.update((n, shrunk.toMap))
          HotSet(key, n,
            shrunk.toSeq.sortBy { case (t, c) => (-c, t) })
      }
  }

  case class CmsState(key: String, n_seen: Long, cells: Array[Long])

  /** Streaming count–min: the CMS
    * ([[graft.operators.Sketches.CountMin]]) as per-key
    * `mapGroupsWithState` state, sharing the batch sketch's cell hash
    * ([[graft.operators.Sketches.cmCell]]). CMS is LINEAR (cell-wise
    * addition), so unlike the Misra–Gries dual the streaming state is
    * not merely guarantee-equivalent to the batch sketch — it is the
    * IDENTICAL matrix after any prefix, regardless of micro-batch
    * boundaries (spec-pinned bit-for-bit against the batch
    * Aggregator on a shared fixture). State per key: d·w longs +
    * one count — knob-bounded forever on an unbounded stream. */
  def runningCountMin(events: Dataset[(String, String)],
      d: Int, w: Int): Dataset[CmsState] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Array[Long]), CmsState](
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[(Long, Array[Long])]) =>
          val (n0, c0) = state.getOption.getOrElse((0L, new Array[Long](d * w)))
          var n = n0
          rows.foreach { case (_, item) =>
            n += 1
            var i = 0
            while (i < d) {
              c0(graft.operators.Sketches.cmCell(i, w, item)) += 1L
              i += 1
            }
          }
          state.update((n, c0))
          CmsState(key, n, c0.clone())
      }
  }

  case class Evt(user_id: Long, event_id: Long, event_type: String,
                 ts: java.sql.Timestamp)
  case class SeenTypes(types: Set[String])
  case class DistinctSoFar(user_id: Long, event_id: Long,
                           distinct_types_so_far: Long)

  /** Streaming dual of the batch q_window_distinct (running
    * count-distinct of event types per user,
    * OlapExtraQueries.qWindowDistinct): the per-user first-seen SET is
    * flatMapGroupsWithState state, each event emits its running
    * distinct count exactly once (append mode), and the watermark
    * bounds state two ways — late rows below the horizon are dropped
    * before the state op, and a user idle past the horizon has their
    * set evicted via EventTimeTimeout (the same trade
    * dropDuplicatesWithinWatermark makes: a key returning after the
    * horizon restarts its count). Within a micro-batch, rows process
    * in (ts, event_id) order — the batch query's exact total order —
    * so on in-order arrival the two surfaces agree row for row
    * (spec-pinned on a shared fixture).
    *
    * Scale: state is keyed by user and holds one Set[String] of seen
    * types per ACTIVE user — O(users-per-horizon × types), sharded
    * across executors; nothing global, nothing unbounded. */
  def runningDistinct(events: Dataset[Evt],
      horizon: String = "1 hour"): Dataset[DistinctSoFar] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", horizon)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SeenTypes, DistinctSoFar](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[Evt], state: GroupState[SeenTypes]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var seen = state.getOption.getOrElse(SeenTypes(Set.empty))
            val out = evs.map { e =>
              if (!seen.types.contains(e.event_type))
                seen = SeenTypes(seen.types + e.event_type)
              DistinctSoFar(key, e.event_id, seen.types.size.toLong)
            }
            state.update(seen)
            // evict once the watermark passes last-activity + horizon
            state.setTimeoutTimestamp(evs.map(_.ts.getTime).max, horizon)
            out.iterator
          }
      }
  }

  /** Ingestion-time exact dedup — the streaming form of the
    * content-hash dedup (an LLM pipeline dedups as data LANDS, not
    * only in batch): duplicates by key are dropped across
    * micro-batches, with the watermark bounding the dedup state the
    * same way it bounds window state — a key older than the horizon
    * is evicted, so state is O(keys-per-horizon), not O(corpus).
    * Exactly `dropDuplicatesWithinWatermark` semantics. */
  def streamingDedup(docs: DataFrame, keyCol: String, horizon: String,
      tsCol: String = "ts"): DataFrame =
    docs.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Stream-stream interval join: each click pairs with the same
    * user's views from the preceding 30 minutes — the incremental
    * form of the funnel stage join (q_funnel's view→click anchor
    * step, arriving as two live streams). BOTH sides are watermarked
    * and the join condition bounds event-time distance in BOTH
    * directions, so each side's buffered state is evicted once the
    * other side's watermark passes the interval — state is
    * O(traffic-per-horizon) per user shard, not unbounded. Append
    * mode emits a pair exactly once, when it can no longer change. */
  def intervalJoin(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
    val c = clicks
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    v.join(c,
      col("v_user") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("v_user").as("user_id"), col("view_ts"), col("click_ts"),
        col("click_value"))
  }

  /** Stream-static enrichment: each arriving event joins a static
    * dimension table (the metadata lookup every ingest pipeline does
    * on landing — band metadata, tile registry, label maps). The
    * static side is planned per micro-batch like any batch join —
    * Spark broadcasts it when it fits the broadcast threshold and
    * falls back to a shuffled join otherwise (no forced hint: a
    * corpus-scale dimension must be allowed to shuffle). No
    * streaming state at all; a dimension refresh is just re-reading
    * the static source. */
  def enrichAgainstStatic(stream: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    stream.join(dim, Seq(key), "left")

  /** Stream-static incremental dedup — the continuous form of
    * q_dedup_incremental's daily-crawl shape: arriving documents
    * survive only if their content hash is absent from the static
    * corpus index (a hash-only table — no text on the static side),
    * via a stream-static LEFT ANTI join planned per micro-batch.
    * Combined with [[streamingDedup]] upstream this gives both
    * within-stream and against-corpus dedup at landing time. The
    * anti join keeps no streaming state: at 100 TB the corpus index
    * is a hash-partitioned parquet table Spark shuffles or
    * broadcasts per batch, and refreshing it (after a batch
    * compaction folds new hashes in) is just re-reading the static
    * source. */
  def dedupAgainstCorpus(stream: DataFrame, corpusHashes: DataFrame,
      hashCol: String): DataFrame =
    stream.join(corpusHashes, Seq(hashCol), "left_anti")

  /** Streaming ANN index maintenance — the incremental arm of the
    * train-once/search-many lifecycle (VectorQueries.trainedCentroids
    * is the batch build): arriving vectors join the MEMOIZED centroid
    * relation and append their routing rows (vec_id, cid, rk ≤ 2),
    * exactly what a daily-crawl pipeline upserts beside a 100 TB
    * corpus between retrains.
    *
    * Shape: the k×dim centroid table is knob-bounded (a FAISS-header
    * artifact, never corpus-sized), so it enters the stream as a
    * 1-row broadcast stream-static join — the streaming edition of
    * the Q22 singleton pattern — and BOTH the k dot products and the
    * top-2 selection happen inside per-row expressions
    * (zip_with/aggregate/array_sort). Routing is map-only: no shuffle,
    * no stateful aggregation, append-mode-legal without a watermark,
    * unbounded input forever. The quantized dot
    * (`Σ floor(v·c·1e9)` as long) is bit-identical to the batch
    * assignment's shuffle aggregate because integer addition is
    * order-free — StreamingSpec pins batch/streaming agreement and
    * replay idempotence (deterministic rows ⇒ re-delivery upserts the
    * same values). */
  case class DayCell(user_id: Long, ts: java.sql.Timestamp, day: String,
    v: Option[Double])
  case class LastObs(v: Double)
  case class Filled(user_id: Long, day: String, filled: Option[Double],
    was_observed: Boolean)

  /** Streaming last-observation-carried-forward — the incremental arm
    * of the batch gap fill (q_locf): per user, arriving day cells
    * (value present = observation, absent = gap) emit their filled
    * value from ONE scalar of state, the last observed value — the
    * minimal-state streaming imputation. Within a micro-batch rows
    * sort by day (the q_locf window order); leading gaps emit None
    * exactly like the batch window's null. EventTimeTimeout evicts a
    * user idle past the watermark horizon, bounding state at one
    * double per live user. */
  def runningLocf(cells: Dataset[DayCell],
      horizon: String = "1 hour"): Dataset[Filled] = {
    import cells.sparkSession.implicits._
    cells
      .withWatermark("ts", horizon)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastObs, Filled](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[DayCell], state: GroupState[LastObs]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val cs = rows.toSeq.sortBy(_.day)
            var last = state.getOption
            val out = cs.map { c =>
              c.v.foreach(v => last = Some(LastObs(v)))
              Filled(key, c.day, c.v.orElse(last.map(_.v)), c.v.isDefined)
            }
            last.foreach(state.update)
            state.setTimeoutTimestamp(cs.map(_.ts.getTime).max, horizon)
            out.iterator
          }
      }
  }

  /** Streaming drift contingency — the incremental arm of the batch
    * chi-squared gate (q_chi2): a running (event_type, bucket) count
    * table maintained as a streaming aggregation in update mode. The
    * state is LINEAR (one long per cell, merged by addition — the
    * runningCountMin property), so the table after any prefix of
    * batches equals the batch aggregation over the same rows, and the
    * chi-squared statistic derived from it equals the batch statistic
    * — a drift monitor can re-test after every micro-batch without a
    * corpus rescan. Keyed by the cell, shards across executors. */
  def runningContingency(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"),
        pmod(col("user_id"), lit(4)).cast("int").as("bucket"))
      .agg(count(lit(1)).as("o"))

  /** The chi-squared statistic from a materialized contingency table
    * — shared by the streaming monitor (per micro-batch, over the
    * running counts) and the batch gate; all-integer marginals, one
    * quantized-term sum (the q_chi2 arithmetic). */
  def chi2FromCounts(cells: DataFrame): DataFrame = {
    val rt = cells.groupBy(col("event_type")).agg(sum(col("o")).as("rt"))
    val ct = cells.groupBy(col("bucket")).agg(sum(col("o")).as("ct"))
    val n = cells.agg(sum(col("o")).as("n"))
    cells.join(broadcast(rt), "event_type")
      .join(broadcast(ct), "bucket")
      .crossJoin(broadcast(n))
      .withColumn("e",
        col("rt").cast("double") * col("ct").cast("double") / col("n").cast("double"))
      .withColumn("term",
        (col("o").cast("double") - col("e")) * (col("o").cast("double") - col("e")) / col("e"))
      .agg(
        (sum(floor(col("term") * lit(1000000.0)).cast("long")).cast("double") /
          lit(1000000.0)).as("chi2"),
        first(col("n")).as("n"))
  }

  def upsertAssignments(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // (cid, pos, c) → one row per centroid, pos-ordered — the bounded
    // driver materialization IS the memoized index header
    val cents = centroids.select(col("cid"), col("pos"), col("c"))
      .as[(Int, Int, Double)].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (cid, rows) => (cid, rows.sortBy(_._2).map(_._3)) }
    require(cents.nonEmpty, "empty centroid relation")
    val centCol = array(cents.map { case (cid, cs) =>
      struct(lit(cid).as("cid"), array(cs.toSeq.map(lit(_)): _*).as("c"))
    }: _*)
    val header = spark.range(1).select(centCol.as("cents"))
    vectors.join(broadcast(header))
      .withColumn("scored", expr(
        """transform(cents, ct -> struct(
          |  aggregate(zip_with(embedding, ct.c,
          |      (a, b) -> CAST(FLOOR(CAST(a AS DOUBLE) * b * 1e9) AS BIGINT)),
          |    CAST(0 AS BIGINT), (acc, x) -> acc + x) AS qdot,
          |  ct.cid AS cid))""".stripMargin))
      .withColumn("top2", expr(
        """slice(array_sort(scored, (l, r) ->
          |  CASE WHEN l.qdot > r.qdot THEN -1 WHEN l.qdot < r.qdot THEN 1
          |       WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1
          |       ELSE 0 END), 1, 2)""".stripMargin))
      .select(col("vec_id"), posexplode(col("top2")).as(Seq("p", "s")))
      .select(col("vec_id"), col("s.cid").as("cid"),
        (col("p") + 1).cast("int").as("rk"))
  }

  /** One micro-batch of the landing-zone ingest, written
    * idempotently: the batch lands in its own `batch_id=<n>`
    * partition directory with overwrite mode, so a retry of the same
    * batch (foreachBatch is at-least-once on failure) replaces its
    * own partial output instead of double-appending. This is the
    * true analog of the reference's skip-if-exists guard
    * (ee_pipeline.py:125-140). */
  def ingestBatch(batch: DataFrame, batchId: Long, destDir: String): Unit =
    // deterministic derived column mirrors the tif→npy transform step
    batch.withColumn("norm_value", col("value") / 100.0)
      .write.mode("overwrite").parquet(s"$destDir/batch_id=$batchId")

  /** One micro-batch of the streaming corpus-curation ingest — the
    * cloud-function-triggered pipeline shape (the reference's GCF
    * entry point fires per landed object, dataops/main.py:24-43)
    * with the SAME stages as the batch q_corpus_curation:
    *
    *  1. within-batch dedup keeper (first doc_id per content key);
    *  2. registry anti-join: a keeper whose key already landed in an
    *     EARLIER batch is a cross-batch duplicate and drops. Only
    *     batches with id < batchId count — a retried batch must
    *     never anti-join against its own partial output;
    *  3. the shared scoring kernel [[graft.operators.TextOps
    *     .curationScore]] adds (n_tokens, quality, kept).
    *
    * EVERY keeper row lands (with its `kept` flag), not just curated
    * ones: the registry must remember keys whose keeper FAILED the
    * content filters, or a later duplicate of a rejected keeper would
    * resurrect — the one divergence a curated-only registry would
    * have from the batch pipeline's dedup-then-filter order. Writes
    * are idempotent per batch (`batch_id=<n>` partition, overwrite
    * mode — the [[ingestBatch]] discipline). */
  def curateBatch(batch: DataFrame, batchId: Long, destDir: String): Unit = {
    val spark = batch.sparkSession
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dkey")).orderBy(col("doc_id"))
    val keepers = batch
      .withColumn("dkey", graft.operators.TextOps.dedupKey(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val prior: DataFrame =
      if (new java.io.File(destDir).exists())
        spark.read.option("basePath", destDir).parquet(destDir)
          .filter(col("batch_id") < batchId)
          .select(col("dkey")).distinct()
      else spark.emptyDataFrame.select(lit("").as("dkey")).limit(0)
    val fresh = keepers.join(prior, Seq("dkey"), "left_anti")
    graft.operators.TextOps.curationScore(fresh)
      .select(col("doc_id"), col("lang"), col("dkey"),
        col("n_tokens"), col("quality"), col("kept"))
      .write.mode("overwrite").parquet(s"$destDir/batch_id=$batchId")
  }

  /** The streaming corpus-curation pipeline: landing-zone parquet
    * files → [[curateBatch]] per micro-batch, exactly-once end to end
    * (checkpoint pins each batch's file set; the sink is idempotent
    * per batch id). After the stream drains, `destDir` read as one
    * table and filtered to `kept` equals the batch q_corpus_curation
    * keeper set over the same files — provided files land in doc_id
    * order, which is how a crawl's landing zone accretes
    * (monotonically increasing ids per shard). */
  def curationIngest(spark: SparkSession, schema: StructType, srcDir: String,
                     destDir: String, checkpointLocation: String,
                     maxFilesPerTrigger: Int = 1): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curateBatch(batch, batchId, destDir)
      }
      .option("checkpointLocation", checkpointLocation)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Landing-zone ingest of one binary file format: every file that
    * lands in `srcDir` matching the format's glob is decoded per
    * micro-batch by the SAME decode as the batch
    * [[graft.sources.GeoIngest.Format.read]] and written to a
    * batch_id-partitioned parquet table, exactly-once under retries
    * (the checkpoint pins each batch's file set; the mode-overwrite
    * per-batch directory is replay-idempotent). Corrupt or
    * out-of-profile files skip inside the decode — a bad shard never
    * stalls the stream. Each trigger takes at most 100 files, the
    * backpressure that lets a crawl-scale landing zone drain in
    * bounded batches. */
  def ingest(spark: SparkSession, format: graft.sources.GeoIngest.Format,
      srcDir: String, destDir: String, checkpointLocation: String): StreamingQuery =
    spark.readStream
      .format("binaryFile")
      // file stream sources require the schema up front; binaryFile's is fixed
      .schema(StructType(Seq(
        StructField("path", org.apache.spark.sql.types.StringType),
        StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
        StructField("length", org.apache.spark.sql.types.LongType),
        StructField("content", org.apache.spark.sql.types.BinaryType))))
      .option("pathGlobFilter", format.glob)
      .option("maxFilesPerTrigger", 100)
      .load(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        format.decode(batch)
          .write.mode("overwrite").parquet(s"$destDir/batch_id=$batchId")
      }
      .option("checkpointLocation", checkpointLocation)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Pattern 1: landing-zone file ingest → parquet, exactly-once
    * end-to-end: the checkpoint pins each batch's file set (a batch
    * id always maps to the same input files), and [[ingestBatch]]
    * makes the sink idempotent under batch retries, so replays
    * neither skip nor duplicate rows. The destination is a
    * batch_id-partitioned parquet layout readable as one table.
    * `maxFilesPerTrigger` is the backpressure knob. */
  def fileIngest(spark: SparkSession, schema: StructType, srcDir: String,
                 destDir: String, checkpointLocation: String,
                 maxFilesPerTrigger: Int = 100): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, destDir)
      }
      .option("checkpointLocation", checkpointLocation)
      .trigger(Trigger.AvailableNow())
      .start()
}
