package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Harness constraints this file is shaped around:
  *
  *  - The driver captures only the LAST ~2,000 chars of stdout, and
  *    sbt's `[success] Total time...` line eats ~70 of them. A full
  *    per-query map for ~100 queries is >2 KB even at integer-ms
  *    precision, so the printed line carries the TOTAL plus the
  *    slowest queries only, size-capped at 1,500 chars, and the
  *    complete full-precision map is written to `BENCH_DETAIL.json`
  *    in the working directory (a SPARK_GRAFT_BENCH_ONLY-filtered run
  *    writes `BENCH_DETAIL.partial.json` instead, so a targeted
  *    re-measure can never clobber a full capture). The JSON line is
  *    the LAST thing printed before exit so the tail capture always
  *    contains it.
  *  - Single-shot timings on a shared box are position-noisy: with
  *    zero code change between rounds, individual queries have been
  *    observed to swing 4x in either direction, and min-of-2 *within
  *    one pass* does not suppress it (the two runs share the noisy
  *    window). So the bench makes TWO full passes over all queries
  *    and reports the per-query minimum across passes — a slow
  *    window during pass 1 is recovered by pass 2 landing elsewhere.
  *  - A steal-time window long enough to span BOTH passes defeats
  *    min-of-2 (observed: one capture recorded 165.9 s for a binary
  *    that measures 67.8-105 s in quiet windows). Defense: a
  *    committed per-query reference (BENCH_REF.json, falling back to
  *    the last BENCH_DETAIL.json) gives each query an expected
  *    timing; any query whose min-of-2 still exceeds 3x its
  *    reference is re-run (up to 2 more times) and the overall min
  *    taken. Every such query carries a "noisy" retry count in the
  *    detail file and the printed line carries the total, so a
  *    number that REMAINS inflated is visibly flagged rather than
  *    silently trusted.
  *
  * Every timed or warmed run goes through [[timeQuery]]: the query is
  * built inside the timer and written to the noop sink, so every
  * output column is computed (a `count()` lets Catalyst prune the
  * projections it does not need and times a different program).
  *
  * A warmup query runs first (untimed) so the first measured query
  * doesn't absorb JVM/codegen/session startup; queries run in sorted
  * name order within each pass so numbers are comparable across
  * rounds. A query that throws is reported as -1 (never as a
  * normal-looking timing) and listed in an "errors" map so
  * regressions can't hide in the output.
  *
  * The header records the generated classes Janino compiled during
  * the warm-up, pass 1 and pass 2 (`codegen_compiles`) and their
  * compile seconds (`codegen_compile_s`). Pass 2 runs queries pass 1
  * already compiled, so its count is the codegen-cache misses: a
  * working set that outgrows the cache (see [[Sessions]]) shows as
  * thousands there instead of about a hundred.
  */
object Bench {
  private val MaxLineChars = 1500

  /** The epoch control query: a plan-stable 6-table TPC-H join whose
    * warm timing tracks whole-session box throughput. Round 17 showed
    * this box suffers session-wide throughput depression that steal
    * telemetry does NOT capture (control read 1.17-1.47 s at
    * near-zero steal vs its 0.871 s quiet reference), so every bench
    * capture self-labels with `"control": ratio` — a dedicated warm
    * run of this query divided by its committed reference row. ~1.0
    * means the window is measurable; >>1 means ambient inflation and
    * the capture must not be promoted or read as a regression. */
  private[graft] val ControlQuery = "q_tpch_q9"

  /** Warm-control-over-reference ratio, or -1 when no reference row
    * exists or the control errored (consumers treat -1 as "no
    * label", never as quiet). */
  private[graft] def controlRatio(controlSec: Double, reference: Map[String, Double]): Double =
    reference.get(ControlQuery) match {
      case Some(r) if r > 0 && controlSec > 0 => controlSec / r
      case _ => -1.0
    }

  /** Where the per-query detail map lands: a FILTERED run
    * (SPARK_GRAFT_BENCH_ONLY set, the splice-protocol re-measure
    * path) writes to the .partial file so a targeted re-measure can
    * never clobber a full capture — a partial map silently replacing
    * BENCH_DETAIL.json would also poison the self-calibration
    * fallback below with a near-empty reference. */
  private[graft] def detailFileName(filtered: Boolean): String =
    if (filtered) "BENCH_DETAIL.partial.json" else "BENCH_DETAIL.json"

  /** Per-query reference seconds from the committed quiet-window run.
    * BENCH_REF.json is the deliberately-committed reference (bench
    * never writes it); BENCH_DETAIL.json is the fallback so a fresh
    * checkout without a ref still self-calibrates — but ONLY when
    * that last run carried zero noisy flags: a detail file whose own
    * values are min-of-2-plus-retries from a noisy window would
    * otherwise become an ever-tightening self-written floor that
    * ratchets retries on. With no clean reference the bench fails
    * OPEN (no retries) rather than retry against a suspect one.
    * Parsed leniently (regex, not a JSON lib): a malformed file must
    * degrade to "no retries", never crash the bench. All regexes are
    * WHITESPACE-TOLERANT around ':' — round 15's reference was
    * re-serialized by external tooling with spaces after colons and
    * the space-intolerant patterns matched ZERO entries, silently
    * vacating the retry tier during a 94 s steal window (the round-13
    * failure mode back). BenchRefSpec now pins loadReference() against
    * the committed file so this cannot regress unnoticed again. */
  private[graft] def loadReference(
      dir: java.nio.file.Path = java.nio.file.Paths.get(".")): Map[String, Double] = {
    def parse(p: java.nio.file.Path, requireQuiet: Boolean): Option[Map[String, Double]] =
      try {
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        // header "noisy" count precedes the queries map, so the FIRST
        // match is the header even though per-query retry markers also
        // spell "noisy" (the header layout gained a steal_sec field
        // between noisy and queries — don't anchor on adjacency)
        val quietOk = !requireQuiet ||
          """"noisy"\s*:\s*(\d+)""".r.findFirstMatchIn(text)
            .exists(_.group(1) == "0")
        if (!quietOk) None
        else {
          // detail format: "name":{"sec":N,...}; flat format (older
          // committed refs): "name":N inside the queries map. The flat
          // fallback matters: a reference that parses to ZERO entries
          // silently disables the noise-retry tier entirely (found in
          // round 13 — the r12 flat BENCH_REF never matched the detail
          // regex, so no retry ever fired against it; found AGAIN in
          // round 15 when a spaced re-serialization matched neither).
          val entry = """"([A-Za-z0-9_]+)"\s*:\s*\{\s*"sec"\s*:\s*(-?[0-9.]+)""".r
          val detail = entry.findAllMatchIn(text)
            .map(m => m.group(1) -> m.group(2).toDouble)
            .filter(_._2 > 0)
            .toMap
          if (detail.nonEmpty) Some(detail)
          else {
            val flat = """"(q[A-Za-z0-9_]*|q1_agg)"\s*:\s*(-?[0-9.]+)""".r
            Some(flat.findAllMatchIn(text)
              .map(m => m.group(1) -> m.group(2).toDouble)
              .filter(_._2 > 0)
              .toMap)
          }
        }
      } catch { case _: Throwable => None }
    val ref = dir.resolve("BENCH_REF.json")
    val detail = dir.resolve("BENCH_DETAIL.json")
    if (java.nio.file.Files.exists(ref)) parse(ref, requireQuiet = false).getOrElse(Map.empty)
    else if (java.nio.file.Files.exists(detail)) parse(detail, requireQuiet = true).getOrElse(Map.empty)
    else Map.empty
  }

  /** Seconds to build `fn(spark, dir)` and write every row and column
    * of it to the noop sink. The build is inside the timer because
    * iterative operators run their driver loops while the query is
    * built. A query that throws propagates; callers decide what an
    * error counts as. */
  private[graft] def timeQuery(
      spark: SparkSession, fn: (SparkSession, String) => DataFrame, dir: String): Double = {
    val t0 = System.nanoTime()
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Generated classes compiled in this JVM so far and their compile
    * seconds; only a codegen-cache miss compiles. The first call
    * initializes Spark's code generator, and with it the cache size,
    * so call it only once [[Sessions.local]] has built the session. */
  private[graft] final case class Codegen(compiles: Long, seconds: Double) {
    def -(earlier: Codegen): Codegen = Codegen(compiles - earlier.compiles, seconds - earlier.seconds)
  }

  private[graft] def codegen(): Codegen =
    Codegen(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e9)

  /** Cumulative hypervisor steal ticks (USER_HZ, summed over all
    * cpus) from /proc/stat — field 8 of the aggregate "cpu" line.
    * -1 when unreadable (non-Linux): every consumer treats that as
    * "no telemetry", never as zero steal. The shared box this runs
    * on has shown 10-30x per-query swings from steal windows;
    * recording the counter per query makes an inflated number
    * ADJUDICABLE (was the box stolen, or did the code regress?)
    * instead of a judgement call. */
  private def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8 && f(0) == "cpu") f(8).toLong else -1L
      } finally src.close()
    } catch { case _: Throwable => -1L }

  /** Steal seconds between two tick readings (100 Hz USER_HZ), or
    * -1 when either bookend was unreadable. */
  private def stealSec(t0: Long, t1: Long): Double =
    if (t0 < 0 || t1 < 0) -1.0 else (t1 - t0) * 0.01

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runSteal0 = stealTicks()
    val spark = Sessions.local(cpus)
    require(SparkEntry.queries.contains("q1_agg"), "warmup query q1_agg is not declared")
    val cg0 = codegen()
    // warmup: a representative agg touches parquet read + shuffle + codegen paths
    try timeQuery(spark, SparkEntry.queries("q1_agg"), sfDir)
    catch { case _: Throwable => () }
    val cg1 = codegen()

    // local-iteration filter (the driver never sets it): time just the
    // named queries, e.g. when quiet-measuring a new query's row for
    // the BENCH_REF splice protocol
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // a run that throws records -1 seconds beside its error class
    def pass(qs: Seq[(String, (SparkSession, String) => DataFrame)]):
        Map[String, (Double, Option[String], Double)] = qs.map { case (name, fn) =>
      val s0 = stealTicks()
      val (t, err) = try (timeQuery(spark, fn, sfDir), None)
                     catch { case e: Throwable => (-1.0, Some(e.getClass.getSimpleName)) }
      name -> ((t, err, stealSec(s0, stealTicks())))
    }.toMap
    // pass 2 runs in REVERSE order: external noise on a shared box
    // arrives in contiguous TIME windows, which under a repeated
    // ordering hit the same alphabetical neighbourhood twice — the
    // per-query min then can't suppress it (observed: a steal-time
    // window inflating the same queries 10-30x in both passes).
    // Opposite orderings make the two passes' noise windows cover
    // disjoint query sets, so min-of-passes recovers the true timing.
    val p1 = pass(ordered)
    val cg2 = codegen()
    val p2 = pass(ordered.reverse)
    val cg3 = codegen()
    val compiled = Seq("warmup" -> (cg1 - cg0), "p1" -> (cg2 - cg1), "p2" -> (cg3 - cg2))
    // per-query min ACROSS the two passes; a run that errored never
    // contributes a timing, and a query only counts as errored if it
    // failed in BOTH passes (a transient blip must not mask success)
    val minOf2: Seq[(String, Double, Option[String])] = ordered.map { case (name, _) =>
      val (t1, e1, _) = p1(name); val (t2, e2, _) = p2(name)
      (e1, e2) match {
        case (Some(x), Some(_)) => (name, -1.0, Some(x))
        case (Some(_), None)    => (name, t2, None)
        case (None, Some(_))    => (name, t1, None)
        case (None, None)       => (name, math.min(t1, t2), None)
      }
    }
    // targeted third/fourth runs: a noise window spanning both passes
    // leaves min-of-2 inflated; re-time any query still 3x over its
    // committed reference (0.5 s absolute floor so sub-second jitter
    // doesn't trigger re-runs) and keep the overall min. retries > 0
    // marks the query as having needed noise recovery.
    val reference = loadReference()
    val byName = ordered.toMap
    val results: Seq[(String, Double, Option[String], Int)] = minOf2.map {
      case (name, v, err) =>
        var cur = v
        var retries = 0
        val needsRetry = (t: Double) =>
          err.isEmpty && reference.get(name).exists(r => t > 3 * r && t > 0.5)
        while (needsRetry(cur) && retries < 2) {
          try cur = math.min(cur, timeQuery(spark, byName(name), sfDir))
          catch { case _: Throwable => () }
          retries += 1
        }
        (name, cur, err, retries)
    }
    val total = results.collect { case (_, v, None, _) => v }.sum
    val noisyCount = results.count(_._4 > 0)

    // measured-work steal ends HERE: snapshot before the control run so
    // the control (and its warm-up in filtered runs) does not fold its
    // own steal/wall into the capture's steal_sec label
    val measuredSteal1 = stealTicks()

    // dedicated warm control run (AFTER all measured work so it labels
    // the same session): in a full run the control query is already
    // warm from both passes; in a filtered run that excluded it, one
    // untimed run warms it first. Errors → -1 (no label).
    val controlSec: Double = SparkEntry.queries.get(ControlQuery) match {
      case Some(fn) =>
        try {
          if (!ordered.exists(_._1 == ControlQuery)) timeQuery(spark, fn, sfDir)
          timeQuery(spark, fn, sfDir)
        } catch { case _: Throwable => -1.0 }
      case None => -1.0
    }
    val control = controlRatio(controlSec, reference)

    def sec3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def msInt(v: Double): Long = math.round(v * 1000)

    // full-precision detail file: every query, both raw pass timings,
    // each pass's steal-seconds (st1/st2, -1 = no telemetry), plus
    // the retry count for queries that needed noise recovery
    val detail = results.map { case (k, v, err, retries) =>
      val raw1 = sec3(p1(k)._1); val raw2 = sec3(p2(k)._1)
      val st1 = sec3(p1(k)._3); val st2 = sec3(p2(k)._3)
      val noisy = if (retries > 0) s""","noisy":$retries""" else ""
      s""""$k":{"sec":${if (err.isDefined) "-1" else sec3(v)},"p1":$raw1,"p2":$raw2,"st1":$st1,"st2":$st2$noisy${err.map(e => s""","err":"$e"""").getOrElse("")}}"""
    }.mkString("{", ",", "}")
    val runStealSec = stealSec(runSteal0, measuredSteal1)
    val controlStealSec = stealSec(measuredSteal1, stealTicks())
    // effective-parallelism telemetry (r20): the driver's scaling check
    // reruns the bench at a lower $SPARK_GRAFT_CPUS and ratios per-query
    // times; these two fields prove the requested core count was
    // APPLIED (master local[n] → defaultParallelism, and the shuffle
    // knob derived from it) rather than silently ignored.
    val cpusEffective = spark.sparkContext.defaultParallelism
    val shufflePartitions =
      try spark.conf.get("spark.sql.shuffle.partitions").toInt catch { case _: Throwable => -1 }
    def perPhase(f: Codegen => String): String =
      compiled.map { case (phase, c) => s""""$phase":${f(c)}""" }.mkString("{", ",", "}")
    val compiles = s""""codegen_compiles":${perPhase(_.compiles.toString)}"""
    val codegenJson = s"""$compiles,"codegen_compile_s":${perPhase(c => sec3(c.seconds))}"""
    val detailJson =
      s"""{"metric":"total","value":${sec3(total)},"unit":"sec","nq":${results.size},"noisy":$noisyCount,"steal_sec":${sec3(runStealSec)},"control":${sec3(control)},"control_sec":${sec3(controlSec)},"control_steal_sec":${sec3(controlStealSec)},"cpus_effective":$cpusEffective,"shuffle_partitions":$shufflePartitions,$codegenJson,"queries":$detail,"sf":"$sfDir"}"""
    val detailName = detailFileName(only.isDefined)
    val detailPath = java.nio.file.Paths.get(detailName)
    try java.nio.file.Files.write(detailPath, (detailJson + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () } // detail file is best-effort; the stdout line is the contract

    // printed line: errors first (must never be hidden), then queries
    // slowest-first, keys with the uniform "q_" prefix stripped and
    // values in integer ms, truncated so the line stays parseable
    // inside the driver's 2,000-char tail capture
    def key(n: String): String = if (n.startsWith("q_")) n.drop(2) else n
    val errEntries = results.collect { case (k, _, Some(_), _) => s""""${key(k)}":-1""" }
    val okEntries = results.collect { case (k, v, None, _) => (k, v) }
      .sortBy { case (_, v) => -v }
      .map { case (k, v) => s""""${key(k)}":${msInt(v)}""" }
    val errs = results.collect { case (k, _, Some(e), _) => s""""${key(k)}":"$e"""" }
      .mkString("{", ",", "}")
    def assemble(entries: Seq[String]): String = {
      val qs = entries.mkString("{", ",", "}")
      s"""{"metric":"total","value":${sec3(total)},"unit":"sec","nq":${results.size},"noisy":$noisyCount,"steal_sec":${sec3(runStealSec)},"control":${sec3(control)},"cpus_effective":$cpusEffective,"shuffle_partitions":$shufflePartitions,$compiles,"qunit":"ms","queries":$qs,"errors":$errs,"detail":"$detailName","sf":"$sfDir"}"""
    }
    val all = errEntries ++ okEntries
    // largest prefix of (errors ++ slowest-first timings) that fits
    var n = all.size
    while (n > 0 && assemble(all.take(n)).length > MaxLineChars) n -= 1
    val line = assemble(all.take(n))

    spark.stop()
    // LAST stdout line before exit — nothing may print after this
    println(line)
  }
}
