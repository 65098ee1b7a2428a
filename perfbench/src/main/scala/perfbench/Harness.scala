package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Sessions, SparkEntry}
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. Three modes, each `mode --key value ...`:
  *
  *  - `setup`: build the SparkSession the way the engine does
  *    (`Sessions.local` plus Catalyst extension install), print
  *    `READY <epoch seconds>` and halt; `run.py` times process start to
  *    that line.
  *  - `run`: one closed-loop client over a workload's query list — a
  *    cold pass, then warm passes until `--seconds` have elapsed, each
  *    query built (`fn(spark, dir)`) and fully materialized through the
  *    noop sink. With `--trace 1` every other warm pass (and the cold
  *    pass) runs with Spark's listeners installed and records spans;
  *    untraced passes carry no listener. The cold pass writes each
  *    query's output as parquet under `--verify` (the oracle compares
  *    those files); warm passes write to the noop sink.
  *  - `plans`: the optimized plan of the noop-sink action against the
  *    optimized plan of `count()`, for one query.
  *
  * All results go to the JSON file named by `--out`. */
object Harness {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def epochMs(n: Long): Double = epoch0 + (n - nano0) / 1e6
  private def secs(a: Long, b: Long): Double = (b - a) / 1e9
  private val MB = 1024.0 * 1024.0
  /** Warm passes run at least twice, so a traced run has one traced and
    * one untraced warm pass to compare. */
  private val MinWarm = 2

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("setup") => setup(opts)
      case Some("run") => run(opts)
      case Some("plans") => plans(opts)
      case _ =>
        System.err.println("usage: Harness setup|run|plans --key value ...")
        sys.exit(2)
    }
  }

  /** `Sessions.local` plus extension install (the session state is
    * built lazily, and building it applies `spark.sql.extensions`). */
  private def session(cpus: String): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = Sessions.local(cpus)
    spark.sessionState
    (spark, secs(t0, System.nanoTime()))
  }

  private def epochNow(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  /** Set-up only: the process ends at once, without stopping Spark, so
    * a sample costs no more than the set-up it measures. */
  private def setup(opts: Map[String, String]): Unit = {
    session(opts("cpus"))
    println(f"READY ${epochNow()}%.6f")
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(path: String, v: Any): Unit = json.writeValue(new java.io.File(path), v)

  /** Artifact directories under `<warehouse>/graft_index/<layout>/`. */
  private def indexArtifacts(warehouse: String): Seq[Path] = {
    val root = Paths.get(warehouse, "graft_index")
    if (!Files.isDirectory(root)) Nil
    else Files.list(root).iterator().asScala.filter(Files.isDirectory(_))
      .flatMap(l => Files.list(l).iterator().asScala.filter(Files.isDirectory(_)).toSeq)
      .toSeq
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Order-independent digest of a query's rows (sorted string forms). */
  private def rowsDigest(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    df.collect().map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def run(opts: Map[String, String]): Unit = {
    val cpus = opts("cpus")
    val input = opts("input")
    val warehouse = opts("warehouse")
    val trace = opts.getOrElse("trace", "0") == "1"
    val seconds = opts("seconds").toDouble
    val digestQueries = opts.getOrElse("digest", "").split(",").filter(_.nonEmpty).toSet
    val names = opts("queries").split(",").toSeq
    val fns = names.map { q =>
      q -> SparkEntry.queries.getOrElse(q,
        throw new IllegalArgumentException(s"unknown query $q"))
    }

    val (spark, sessionStart) = session(cpus)
    println(f"READY ${epochNow()}%.6f")
    System.out.flush()

    val recorder = new Recorder
    val spans = ArrayBuffer.empty[Map[String, Any]]
    var nextSpan = 0
    var nextQuery = 0
    def span(parent: Int, query: Int, name: String, start: Double, end: Double,
        attrs: Map[String, Any] = Map.empty): Int = {
      nextSpan += 1
      spans += Map("id" -> nextSpan, "parent" -> parent, "query" -> query, "name" -> name,
        "start_ms" -> start, "end_ms" -> end) ++ attrs
      nextSpan
    }

    def setTraced(on: Boolean): Unit =
      if (on) {
        spark.sparkContext.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
      } else {
        spark.sparkContext.removeSparkListener(recorder)
        spark.listenerManager.unregister(recorder)
      }

    def phase(): PhaseStats = {
      Bus.drain(spark.sparkContext)
      val s = recorder.current
      recorder.current = new PhaseStats
      s
    }

    /** Job and stage spans under `parent`, stages nested in their job. */
    def jobSpans(parent: Int, qid: Int, st: PhaseStats): Unit = {
      val byJob = st.stageSpans.groupBy(_._2)
      st.jobSpans.sortBy(_._2).foreach { case (job, s, e) =>
        val j = span(parent, qid, "exec.job", s.toDouble, e.toDouble, Map("job" -> job))
        byJob.getOrElse(job, Nil).sortBy(_._3).foreach { case (stage, _, ss, se) =>
          span(j, qid, "exec.stage", ss.toDouble, se.toDouble, Map("stage" -> stage))
        }
      }
    }

    def runQuery(pass: Int, name: String, fn: (SparkSession, String) => DataFrame,
        traced: Boolean, sinkDir: Option[String]): Map[String, Any] = {
      nextQuery += 1
      val qid = nextQuery
      val before = if (traced) indexArtifacts(warehouse).toSet else Set.empty[Path]
      if (traced) phase()
      var error: Option[String] = None
      var digest: Option[String] = None
      val b0 = System.nanoTime()
      var b1 = b0
      var a0 = b0
      var a1 = b0
      var buildStats: PhaseStats = null
      var actionStats: PhaseStats = null
      var dfPhases = Seq.empty[(String, Long, Long)]
      try {
        val df = fn(spark, input)
        b1 = System.nanoTime()
        if (traced) buildStats = phase()
        a0 = System.nanoTime()
        sinkDir match {
          case Some(d) => df.write.mode("overwrite").parquet(s"$d/$name")
          case None => df.write.format("noop").mode("overwrite").save()
        }
        a1 = System.nanoTime()
        if (traced) {
          actionStats = phase()
          dfPhases = Recorder.phases(df.queryExecution)
        }
        if (digestQueries.contains(name)) digest = Some(rowsDigest(df))
      } catch {
        case e: Throwable if a1 != b0 =>
          error = Some(s"digest: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        case e: Throwable =>
          val t = System.nanoTime()
          if (b1 == b0) { b1 = t; a0 = t }
          a1 = t
          error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val base = Map[String, Any](
        "name" -> name, "build_s" -> secs(b0, b1), "action_s" -> secs(a0, a1),
        "wall_s" -> (secs(b0, b1) + secs(a0, a1)), "error" -> error, "digest" -> digest)
      if (!traced) return base

      if (buildStats == null) buildStats = phase()
      if (actionStats == null) actionStats = phase()
      phase()
      val (qb0, qb1, qa0, qa1) = (epochMs(b0), epochMs(b1), epochMs(a0), epochMs(a1))
      val q = span(0, qid, "query", qb0, qa1, Map("query_name" -> name, "pass" -> pass))
      val b = span(q, qid, "build", qb0, qb1)
      jobSpans(b, qid, buildStats)
      val a = span(q, qid, "action", qa0, qa1)
      // planning phases of the action's query executions, clipped to
      // the action; execution starts where the last of them ends. The
      // writer analyzes its command on the DataFrame's own tracker,
      // which no listener reports, so that tracker is read as well.
      val planPhases = (actionStats.qes.flatMap(_.phases) ++ dfPhases)
        .map { case (n, s, e) => (n, math.max(s.toDouble, qa0), math.min(e.toDouble, qa1)) }
        .filter { case (_, s, e) => e > s }
      planPhases.foreach { case (n, s, e) => span(a, qid, s"plans.$n", s, e) }
      val execStart = (qa0 +: planPhases.map(_._3)).max
      val x = span(a, qid, "exec", execStart, qa1)
      jobSpans(x, qid, actionStats)
      val after = indexArtifacts(warehouse)
      def phaseSum(n: String) = planPhases.collect { case (`n`, s, e) => e - s }.sum / 1e3
      val st = actionStats
      val all = Seq(buildStats, actionStats)
      base ++ Map(
        "qid" -> qid,
        "build_jobs" -> buildStats.jobs,
        "checkpoint_blocks" -> buildStats.blocks,
        "checkpoint_mb" -> buildStats.blockBytes / MB,
        "analysis_s" -> phaseSum("analysis"),
        "optimization_s" -> phaseSum("optimization"),
        "planning_s" -> phaseSum("planning"),
        "exchanges" -> st.qes.map(_.exchanges).sum,
        "scans" -> st.qes.map(_.scans).sum,
        "bnlj" -> st.qes.map(_.bnlj).sum,
        "upw" -> st.qes.map(_.upw).sum,
        "exec_s" -> (qa1 - execStart) / 1e3,
        "exec_jobs" -> st.jobs,
        "exec_stages" -> st.stages,
        "exec_tasks" -> st.tasks,
        "task_s" -> st.taskMs / 1e3,
        "task_cpu_s" -> st.cpuNs / 1e9,
        "gc_s" -> st.gcMs / 1e3,
        "shuffle_write_mb" -> st.shuffleWrite / MB,
        "shuffle_read_mb" -> st.shuffleRead / MB,
        "spill_mb" -> st.spill / MB,
        "input_mb" -> st.input / MB,
        "task_failures" -> all.map(_.taskFailures).sum,
        "index_builds" -> after.count(p => !before.contains(p)),
        "index_reads" -> all.map(_.qes.map(_.indexReads).sum).sum)
    }

    def runPass(pass: Int, kind: String, traced: Boolean,
        sinkDir: Option[String] = None): Map[String, Any] = {
      if (traced) setTraced(true)
      val t0 = System.nanoTime()
      val qs = fns.map { case (n, f) => runQuery(pass, n, f, traced, sinkDir) }
      val wall = qs.map(_("wall_s").asInstanceOf[Double]).sum
      val elapsed = secs(t0, System.nanoTime())
      if (traced) setTraced(false)
      Map("pass" -> pass, "kind" -> kind, "traced" -> traced, "wall_s" -> wall,
        "elapsed_s" -> elapsed, "queries" -> qs,
        "index_artifacts" -> indexArtifacts(warehouse).size,
        "index_mb" -> treeBytes(Paths.get(warehouse, "graft_index")) / MB)
    }

    val verify = opts("verify")
    Files.createDirectories(Paths.get(verify))
    val passes = ArrayBuffer.empty[Map[String, Any]]
    passes += runPass(0, "cold", trace, Some(verify))
    write(s"$verify/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < MinWarm || System.nanoTime() < deadline) {
      passes += runPass(i + 1, "warm", trace && i % 2 == 0)
      i += 1
    }
    val rss = peakRssMb()

    val micro = if (trace) Micro.run(spark, input, opts("work")) else Map.empty[String, Double]

    write(opts("out"), Map(
      "session_start_s" -> sessionStart,
      "peak_rss_mb" -> rss,
      "passes" -> passes,
      "spans" -> spans,
      "micro" -> micro))
    // everything is written; end without stopping Spark, like `setup`
    Runtime.getRuntime.halt(0)
  }

  /** Optimized plans of the timed action (noop sink, captured from the
    * listener) and of `count()`, reduced to the alias names each keeps. */
  private def plans(opts: Map[String, String]): Unit = {
    val (spark, _) = session(opts("cpus"))
    val q = opts("query")
    val df = SparkEntry.queries(q)(spark, opts("input"))
    var written: LogicalPlan = null
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (written == null) written = qe.optimizedPlan
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    df.write.format("noop").mode("overwrite").save()
    Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(listener)
    def aliases(p: LogicalPlan): Set[String] =
      p.collect { case n => n.expressions.flatMap(_.collect { case a: Alias => a.name }) }
        .flatten.toSet
    val counted = df.groupBy().count().queryExecution.optimizedPlan
    write(opts("out"), Map(
      "columns" -> df.columns.toSeq,
      "action_aliases" -> aliases(written).toSeq.sorted,
      "count_aliases" -> aliases(counted).toSeq.sorted))
    spark.stop()
  }
}
