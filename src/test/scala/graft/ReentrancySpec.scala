package graft

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.DataFrame

/** Intermediate state has one owner and one lifetime: the DataFrame
  * that reads it. Every query that materializes state while it is
  * built (`ScaleOps.materializeOnce`, the persisted sort behind
  * `globalRank`) must give the same rows when it is built twice and
  * both builds are acted on, when three threads build and collect it
  * at once in one session, and its blocks must be released once the
  * DataFrames are dropped. A failure here means some build freed or
  * pinned state another build owns; it is never a flaky test. Two
  * source scans keep it that way: state is kept only in ScaleOps, and
  * released only where the allowlist says.
  *
  * Rows are compared as a digest of the sorted, canonically rendered
  * rows against one single build of the same query. */
class ReentrancySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Every query that materializes intermediate state while it is
    * built, plus q_auc for the persisted sort of `globalRank`. */
  private val materializing = Seq(
    "q_pagerank", "q_triangles", "q_bfs_depth", "q_density_cluster",
    "q_assoc_rules", "q_bitmap_index", "q_interval_overlap", "q_nb_lang",
    "q_kmeans_refine", "q_embed_neardup", "q_dup_clusters",
    "q_dup_clusters_star", "q_minhash_lsh", "q_minhash_lsh_xx",
    "q_bigram_lm", "q_rrf_recall", "q_retrieval_eval",
    "q_audience_overlap", "q_max_concurrency", "q_ngram_jaccard",
    "q_mmr_rerank", "q_simhash", "q_auc")

  private lazy val queries = SparkEntry.queries

  private def build(q: String): DataFrame = queries(q)(spark, dir)

  private def digest(df: DataFrame): String = RowDigest.of(df)

  /** Digest of one single build, computed once per query. */
  private val single = scala.collection.mutable.Map.empty[String, String]
  private def expected(q: String): String = single.getOrElseUpdate(q, digest(build(q)))

  private def failure(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")

  private def check(q: String, label: String, got: Try[String]): Option[String] =
    got.fold(e => Some(s"$q $label: ${failure(e)}"),
      d => if (d == expected(q)) None else Some(s"$q $label: rows $d != ${expected(q)}"))

  test("twice-built: acting on the first build after a second build gives the same rows") {
    val bad = materializing.flatMap { q =>
      expected(q)
      val first = build(q)
      val second = build(q)
      check(q, "first", Try(digest(first))) ++ check(q, "second", Try(digest(second)))
    }
    if (bad.nonEmpty) fail(bad.mkString("\n", "\n", ""))
  }

  test("concurrent: three threads building and collecting one query agree") {
    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val bad = materializing.flatMap { q =>
        expected(q)
        val runs = (1 to 3).map(_ => Future(Try(digest(build(q)))))
        runs.zipWithIndex.flatMap { case (f, i) =>
          check(q, s"thread ${i + 1}", Await.result(f, 10.minutes))
        }
      }
      if (bad.nonEmpty) fail(bad.mkString("\n", "\n", ""))
    } finally pool.shutdown()
  }

  /** Ids of the persisted RDDs, copied out: a key-set view of
    * `getPersistentRDDs` would hold the RDDs themselves alive. */
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  /** Ids persisted now but not in `start`, polled under repeated
    * `System.gc()` until none is left or 30 s pass. */
  private def heldBeyond(start: Set[Int]): Seq[Int] = {
    val deadline = System.nanoTime + 30.seconds.toNanos
    var left = persisted -- start
    while (left.nonEmpty && System.nanoTime < deadline) {
      System.gc()
      Thread.sleep(200)
      left = persisted -- start
    }
    left.toSeq.sorted
  }

  test("lifetime: blocks are released once the DataFrames reading them are dropped") {
    val qs = Seq("q_pagerank", "q_rrf_recall", "q_auc", "q_dup_clusters")
    qs.foreach(expected)
    // compared by id, not by count: a memo that frees the previous
    // call's RDDs and pins its own keeps the count flat
    val start = persisted
    val bad = for (q <- qs; i <- 1 to 5; b <- check(q, s"cycle $i", Try(digest(build(q))))) yield b
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
    val held = heldBeyond(start)
    assert(held.isEmpty, s"${held.size} RDDs the cycles persisted are still held 30 s " +
      s"after the last reference was dropped: ${held.mkString(", ")}")
  }

  /** Every `.unpersist(` in src/main, pinned as `file: line` with the
    * line trimmed and its comment and string literals stripped. Each
    * frees state that the method around it created and can show is
    * never read again; a new release needs a reviewed entry here. */
  private val releases = Seq(
    // LaggedCleanup.free: a loop round two generations old
    "ScaleOps.scala: rdd.unpersist(blocking = false)",
    // logisticProbe and forestProbe: the prepared table each cached
    "MlProbes.scala: } finally df.unpersist()",
    "MlProbes.scala: } finally df.unpersist()",
  )

  /** src/main with comments stripped and string literals emptied, line
    * numbers kept. */
  private lazy val code = SourceScan.code(_ => false)

  /** Every code line of src/main matching `re`, as `file: line`
    * trimmed. */
  private def lines(re: scala.util.matching.Regex): Seq[String] =
    code.flatMap { case (name, text) =>
      text.split("\n", -1).map(_.trim).filter(re.findFirstIn(_).isDefined).map(l => s"$name: $l")
    }

  private def diffAllowlist(found: Seq[String], allowed: Seq[String], what: String): Seq[String] =
    found.diff(allowed).map(s"$what not on the allowlist: " + _) ++
      allowed.diff(found).map(s"allowlisted $what no longer present: " + _)

  test("src/main holds no JVM-global RDD collection and unpersists only where it owns the state") {
    val decl = """^\s*(?:@\w+\s+)*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|lazy\s+|override\s+)*(?:val|var)\s+(\w+)""".r
    val rddCollection = """(?:Map|Set|Queue|Buffer|List|Seq|Array|Vector|Stack|Deque)\w*\[[^=]*\bRDD\[""".r
    def indent(l: String) = l.length - l.dropWhile(_ == ' ').length
    def isCode(l: String) = l.trim.nonEmpty
    /** The definition headers enclosing line `i`, innermost first: each
      * nearest earlier code line that is less indented. */
    def enclosing(lines: Array[String], i: Int): List[String] = {
      var ind = indent(lines(i))
      var out = List.empty[String]
      var j = i - 1
      while (j >= 0 && ind > 0) {
        if (isCode(lines(j)) && indent(lines(j)) < ind) {
          out ::= lines(j); ind = indent(lines(j))
        }
        j -= 1
      }
      out.reverse
    }
    val memos = code.flatMap { case (name, src) =>
      val lines = src.split("\n", -1)
      lines.indices.filter(i => isCode(lines(i))).flatMap { i =>
        val l = lines(i)
        val text = if (l.trim.endsWith("=") && i + 1 < lines.length) l + lines(i + 1) else l
        // static: every enclosing definition is an object
        def static = enclosing(lines, i) match {
          case Nil => false
          case encl => encl.forall(h => """\bobject\s+\w""".r.findFirstIn(h).isDefined)
        }
        decl.findFirstMatchIn(l)
          .filter(_ => rddCollection.findFirstIn(text).isDefined && static)
          .map(m => s"$name:${i + 1} static RDD collection ${m.group(1)}")
      }
    }
    val found = memos ++ diffAllowlist(lines("""\.unpersist\(""".r), releases, "unpersist")
    if (found.nonEmpty) fail(found.mkString("\n", "\n", ""))
  }

  /** Every line outside ScaleOps.scala that keeps intermediate state,
    * pinned as `file: line` like [[releases]]. */
  private val keeps = Seq(
    // logisticProbe and forestProbe: a spark.ml fit iterates over its
    // cached input, which its `finally` in [[releases]] frees
    "MlProbes.scala: val df = prepare(embeddings).cache()",
    "MlProbes.scala: val df = prepare(embeddings).cache()",
  )

  test("src/main keeps intermediate state only in ScaleOps") {
    val state = """localCheckpoint|\.checkpoint\(|\.persist\(|\.cache\(|setCheckpointDir""".r
    val kept = lines(state).filterNot(_.startsWith("ScaleOps.scala: "))
    val found = diffAllowlist(kept, keeps, "state-keeping call")
    if (found.nonEmpty) fail(found.mkString("\n", "\n", ""))
    // the one home does keep state: the scan reads the code it guards
    assert(lines(state).exists(_.startsWith("ScaleOps.scala: ")))
  }
}
