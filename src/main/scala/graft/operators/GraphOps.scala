package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives for dedup-cluster resolution.
  *
  * Near-dup detection (MinHash/SimHash/Jaccard) emits PAIRS, but the
  * step a training-data pipeline actually needs is the transitive
  * closure of those pairs — duplicate CLUSTERS, so exactly one
  * canonical document per cluster survives (the reference's dedup
  * unit-of-work; cf. the keeper rule in q_dedup_keep). This is
  * connected components over the pair graph.
  */
object GraphOps {

  /** RDD blocks behind a localCheckpoint'd DataFrame (the LogicalRDD
    * the checkpoint rewrote the plan to). Used for the lagged cleanup
    * below; None for plans that are not checkpoint results. */
  private def backingRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Two-round-lagged executor-storage cleanup for iterative loops:
    * push each retired round's DataFrame; once a round is TWO
    * generations old its blocks can no longer be referenced by any
    * future job (round N only reads round N-1), so unpersist them
    * eagerly instead of waiting for the ContextCleaner to GC the
    * dropped reference — on long-running high-diameter graphs the
    * lingering blocks otherwise grow executor storage with round
    * count. The one-round lag also keeps a task RETRY of the round
    * that is still materializing safe. Spark logs a WARN that the
    * unpersisted RDD "cannot be recomputed" — intended: retired
    * rounds are provably never read again. */
  private final class LaggedCleanup {
    private val q = scala.collection.mutable.Queue.empty[DataFrame]
    private def free(df: DataFrame): Unit = backingRdd(df).foreach { rdd =>
      rdd.unpersist(blocking = false)
      // Reliable mode: the retired round's checkpoint FILES can never
      // be read again either, and nothing else deletes them — the
      // ContextCleaner only removes checkpoint files when
      // spark.cleaner.referenceTracking.cleanCheckpoints is on (off by
      // default) and even then only at GC time. Without this delete a
      // long high-diameter run grows the checkpoint dir by one full
      // edge-set per round. getCheckpointFile is None for local
      // checkpoints, so local mode is untouched.
      rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(rdd.context.hadoopConfiguration).delete(p, true)
      }
    }
    def retire(df: DataFrame): Unit = {
      q.enqueue(df)
      if (q.size > 1) free(q.dequeue())
    }
    /** End of loop: every queued round predates the returned fixpoint
      * DataFrame (or the loop failed and nothing is returned), so all
      * their blocks and checkpoint files can go. */
    def drain(): Unit = while (q.nonEmpty) free(q.dequeue())
  }

  /** Connected components by iterative min-label propagation
    * (Pregel-style): every node starts labelled with itself; each
    * round every node takes the min of its own label and its
    * neighbours' labels; at the fixpoint each component carries its
    * minimum node id.
    *
    * Scale design: each round is ONE shuffle keyed on the node id
    * (join labels to edges + groupBy dst) — the textbook iterative CC
    * that HashToMin / large-star-small-star refine. Rounds are
    * bounded by the component diameter, which for near-dup graphs is
    * tiny (duplicate clusters are near-cliques, so label information
    * crosses a cluster in O(log diameter) rounds).
    *
    * Labels only ever DECREASE under min propagation, so the
    * label-sum is strictly monotone until the fixpoint: comparing
    * sums is a complete convergence test and costs one aggregate per
    * round. Lineage is bounded per round: in the default LOCAL mode
    * each round's labels persist to executor storage and that
    * convergence aggregate doubles as the materializing action — ONE
    * job per round, no separate checkpoint pass; with `checkpointDir`
    * set, every round instead writes a RELIABLE checkpoint (survives
    * executor loss — the cluster-scale mode; costs the extra
    * checkpoint pass per round). Both modes reach the identical
    * fixpoint (spec-pinned). Deterministic: min is order-independent
    * — no vertex-program race affects the fixpoint.
    *
    * @param edges undirected edge list; each row one edge
    * @param checkpointDir reliable-checkpoint directory; None = local
    * @return (id, lbl) — every node that appears in an edge, labelled
    *         with its component's minimum node id
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30, checkpointDir: Option[String] = None): DataFrame = {
    val reliable = checkpointDir.isDefined
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // the symmetric edge list is staged once, ADAPTIVELY: the caller's
    // feeder (e.g. the MinHash candidate generation) keeps AQE, and
    // every round reads the staged copy instead of re-running it
    val sym = truncate(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
        .distinct())
    var labels = truncate(
      sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lbl")))
    // decimal sum so huge id spaces can't overflow the comparison
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("lbl").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head().getDecimal(0)
      if (v == null) java.math.BigDecimal.ZERO else v
    }
    var prevSum = labelSum(labels)
    var converged = labels.isEmpty
    var it = 0
    val cleanup = new LaggedCleanup
    // one min-label propagation step (no materialization)
    def step(ls: DataFrame): DataFrame = {
      val viaNeighbours = sym.join(ls, sym("src") === ls("id"))
        .groupBy(col("dst").as("nid")).agg(min(col("lbl")).as("nlbl"))
      ls.join(viaNeighbours, ls("id") === viaNeighbours("nid"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
    }
    var returned = false
    try {
      while (!converged && it < maxIter) {
        // TWO propagation steps per materialized round: labels cross two
        // hops per job, halving the scheduling/materialization barriers
        // for a given diameter. The plan per round holds exactly two
        // join+agg pairs (bounded — lineage still truncates each round),
        // and the monotone label-sum convergence test is unaffected (a
        // fixpoint is a fixpoint of the composed step too).
        val joined = step(step(labels))
        // local mode: LAZY localCheckpoint — the labelSum aggregate below
        // is the one job that materializes this round's labels, decides
        // convergence, AND truncates lineage (a plain persist would leave
        // the logical plan growing by one join per round until analysis
        // blows up on high-diameter graphs). Reliable mode: eager
        // checkpoint first.
        // round jobs stay ADAPTIVE: the co-partitioned SMJ shape
        // measured 40% slower at sf0.1 (SCALE.md, connected components).
        val next =
          if (reliable) truncate(joined)
          else joined.localCheckpoint(false)
        // hand the current round to the cleanup queue BEFORE the
        // materializing aggregate: if labelSum throws mid-round, both
        // the previous round (queued) and this one (tracked as `labels`,
        // retired in the finally below) are freed — nothing persisted or
        // checkpointed outlives a failed call. The lag is unchanged:
        // enqueueing round N-1 frees round N-2, so round N's job can
        // still read its N-1 parent.
        cleanup.retire(labels)
        labels = next
        val nextSum = labelSum(labels)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        it += 1
      }
      require(converged, s"connectedComponents did not converge in $maxIter rounds")
      returned = true
      labels
    } finally {
      // success: all retired rounds predate the returned fixpoint.
      // failure (non-convergence or a mid-round job error): nothing is
      // returned, so the CURRENT round's blocks/files go too. `sym` is
      // only read inside the loop (the returned labels plan is a
      // checkpoint result), so it retires in every path.
      cleanup.retire(sym)
      if (!returned) cleanup.retire(labels)
      cleanup.drain()
    }
  }

  /** Connected components by alternating large-star / small-star
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — public algorithm description).
    *
    * Why a second implementation: min-label propagation
    * ([[connectedComponents]]) needs one round per unit of component
    * DIAMETER, which is fine for near-clique duplicate clusters but
    * degenerates on chain-shaped graphs (a 10⁶-hop path = 10⁶
    * shuffles). The star rewrites contract paths doubly-logarithmically:
    * each round every node re-points at the minimum of its
    * neighbourhood, so round count is O(log n) REGARDLESS of shape —
    * the form that survives adversarial graphs at corpus scale. Each
    * half-round is one groupBy-min + one join, both keyed on node id.
    *
    * - large-star: every node connects its strictly-LARGER neighbours
    *   to the minimum of its closed neighbourhood (keeps small→large
    *   edges for the next step);
    * - small-star: every node connects its smaller-or-equal
    *   neighbours (and itself) to that minimum.
    *
    * Fixpoint: both rewrites leave the edge set unchanged — checked
    * exactly (no checksum-collision risk) by ONE full-outer join on
    * (u, v) counting rows present on only one side; in local mode
    * that count is also the job that materializes the round's lazy
    * localCheckpoint, so each round costs a single job. With
    * `checkpointDir` set, every round instead writes a RELIABLE
    * checkpoint (survives executor loss — the cluster-scale mode,
    * same option as [[connectedComponents]]). At the fixpoint the
    * graph is a star forest: every node points directly at its
    * component's minimum.
    *
    * Output contract matches [[connectedComponents]] exactly,
    * self-loops included: (id, lbl) for every node appearing in an
    * edge — a node whose only edges are self-loops is its own
    * singleton component (the final left join below restores such
    * nodes, which the star iteration itself never sees). Spec-pinned
    * on path, clique, random, and self-loop graphs in both
    * checkpoint modes.
    */
  def connectedComponentsStar(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50, checkpointDir: Option[String] = None): DataFrame = {
    val reliable = checkpointDir.isDefined
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    // Materialize the RAW pair list once: both the iteration's seed
    // AND the final all-nodes restore read it. Without this base the
    // closing left join re-executes the caller's whole edge subtree —
    // for dedup graphs that is the banded MinHash candidate
    // generation, easily as expensive as the CC rounds themselves.
    val base = {
      val b = edges
        .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      if (reliable) b.checkpoint() else b.localCheckpoint()
    }
    val init = base
      .where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()

    // one star half-round: re-point `which` side of each closed
    // neighbourhood at its minimum. m(u) = min Γ⁺(u) comes from a
    // KEYED window over the symmetric edge list — one exchange on u,
    // computed in place — instead of the groupBy + self-join form
    // (two to three exchanges per half-round): same rows, same
    // semantics, roughly half the shuffle stages per CC round, which
    // is what the round cost is made of at small scale (at cluster
    // scale the window and the join shuffle the same bytes).
    // `dedup = false` skips the half-round's distinct: large-star
    // emits at most one edge per symmetric input row (≤ |E| rows), so
    // duplicates between the two halves of a round never compound —
    // only the end-of-round (small-star) distinct must run to bound
    // growth ACROSS rounds. Saves one exchange per CC round; the
    // window's min is duplicate-invariant, so semantics are identical.
    def halfRound(g: DataFrame, large: Boolean, dedup: Boolean): DataFrame = {
      val sym = g.union(g.select(col("v").as("u"), col("u").as("v")))
      val wm = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
      val withM = sym.withColumn("m",
        least(col("u"), min(col("v")).over(wm)))
      val repointed =
        if (large) withM.where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        else withM.where(col("v") <= col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(withM.select(col("u"), col("m").as("v")))
      val live = repointed.where(col("u") =!= col("v"))
      if (dedup) live.distinct() else live
    }

    // fused fixpoint test: edge sets are distinct, so "unchanged" ⟺
    // the full-outer join on (u, v) has zero one-sided rows — a single
    // shuffle-join + count, half the per-round jobs of the previous
    // two-sided anti-join emptiness test, and in local mode the count
    // doubles as the action materializing `next`'s lazy checkpoint
    def changedEdges(next: DataFrame, prev: DataFrame): Long =
      next.withColumn("_n", lit(1))
        .join(prev.withColumn("_p", lit(1)), Seq("u", "v"), "full_outer")
        .where(col("_n").isNull || col("_p").isNull)
        .count()

    var g = if (reliable) init.checkpoint() else init.localCheckpoint()
    var it = 0
    var converged = g.isEmpty
    // g was just materialized by isEmpty; its count is a cheap re-read
    var prevCount = if (converged) 0L else g.count()
    val cleanup = new LaggedCleanup
    var fixed = false
    try {
      while (!converged && it < maxIter) {
        val stepped =
          halfRound(halfRound(g, large = true, dedup = false), large = false, dedup = true)
        val next = if (reliable) stepped.checkpoint() else stepped.localCheckpoint(false)
        // `next` enters cleanup tracking (as `g`) BEFORE the
        // materializing count: a mid-round failure then frees the
        // just-checkpointed round in the finally below instead of
        // leaking its blocks/files for the session. The fixpoint test
        // still reads the previous round — it sits in the queue, not
        // yet freed (two-round lag).
        val prev = g
        cleanup.retire(g)
        g = next
        // two-tier exact fixpoint test: the count (which doubles as
        // the job materializing the lazy checkpoint) differing proves
        // change without the join; only a stable count pays the
        // set-equality full-outer join — and both sides arrive
        // hash-clustered on (u, v) from their round-final distincts,
        // so that join plans exchange-free.
        val cnt = g.count()
        converged = cnt == prevCount && changedEdges(g, prev) == 0L
        prevCount = cnt
        it += 1
      }
      require(converged, s"connectedComponentsStar did not converge in $maxIter rounds")
      fixed = true
    } finally {
      // success: retired rounds predate the fixpoint `g` read below.
      // failure (non-convergence or a mid-round job error): the current
      // round is never read again either — free everything.
      if (!fixed) cleanup.retire(g)
      cleanup.drain()
    }
    // star forest → labelling; roots label themselves; nodes the
    // iteration never saw (self-loop-only) are their own component
    val starLabels = g.select(col("u").as("id"), col("v").as("lbl"))
      .union(g.select(col("v").as("id"), col("v").as("lbl")))
      .distinct()
    val allNodes = base
      .select(col("u").as("id"))
      .union(base.select(col("v").as("id")))
      .distinct()
    allNodes.join(starLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
  }

  /** Fixed-iteration PageRank over a DIRECTED edge list — the
    * importance-ranking companion to [[connectedComponents]]: dedup
    * clusters tell you what is the same, PageRank tells you what is
    * central (link-graph quality weighting for corpus curation — the
    * signal web-scale pipelines mix into their keep/drop score).
    *
    * Semantics: `r_0 = 1/N`;
    * `r_{t+1}(v) = (1-d)/N + d · Σ_{u→v} r_t(u)/outdeg(u)` for a
    * fixed `iters` rounds (power iteration, not run to convergence —
    * the production form: a bounded number of synchronous rounds).
    * Dangling nodes (no out-edges) appear only as destinations; their
    * mass is dropped, not redistributed — callers wanting the
    * classical redistributing variant should symmetrize or add
    * self-loops first (the graded query symmetrizes).
    *
    * Scale/determinism design: each round is ONE shuffle — per-node
    * contribution `c = floor(r/outdeg · 1e12)` (a LONG) joins to the
    * edge list on src and integer-SUMS by dst, so the reduction is
    * order-independent under any partitioning (the Exact.qsum rule:
    * double addition is not associative, integer addition is). The
    * damping update is a fixed IEEE sequence identical in the DuckDB
    * oracle. Node count N rides along as a broadcast 1-row aggregate
    * — nothing driver-side, no global window; `iters` is small so the
    * unrolled plan needs no lineage truncation. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, damping: Double = 0.85): DataFrame = {
    val e = ScaleOps.materializeOnce(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")))
    val deg = ScaleOps.materializeOnce(
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg")))
    val nTab = deg.agg(count(lit(1)).as("n_nodes"))
    // (node, outdeg, n_nodes) spine materialized ONCE: the old loop
    // re-embedded the 1-row N aggregate and its broadcast cross-join
    // in every round's plan (3× the degree aggregation + BNLJ)
    val degN = ScaleOps.materializeOnce(deg.crossJoin(broadcast(nTab)))
    // rank table carries (node, outdeg, n_nodes, rank)
    var ranks = degN
      .withColumn("rank", lit(1.0) / col("n_nodes").cast("double"))
    for (_ <- 1 to iters) {
      val contrib = ranks.select(col("node"),
        floor(col("rank") / col("outdeg").cast("double") * lit(1e12))
          .cast("long").as("c"))
      val summed = e.join(contrib, e("src") === contrib("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("cs"))
      ranks = degN
        .join(summed, Seq("node"), "left")
        .withColumn("rank",
          lit(1 - damping) / col("n_nodes").cast("double") +
            lit(damping) * (coalesce(col("cs"), lit(0L)).cast("double") / lit(1e12)))
        .select(col("node"), col("outdeg"), col("n_nodes"), col("rank"))
    }
    ranks.select(col("node"), col("outdeg"), col("rank"))
  }

  /** Triangle enumeration by degree orientation (the MPC-standard
    * algorithm, Suri–Vassilvitskii WWW'11): orient every undirected
    * edge from its lower-(degree, id) endpoint to the higher, then a
    * triangle is exactly one wedge (u→v, u→w) with ordkey(v) <
    * ordkey(w) plus the closing oriented edge (v→w). Orientation
    * bounds every node's out-degree by O(√m) on any graph, so the
    * wedge join — the only superlinear step — is Σ outdeg² = O(m^1.5)
    * instead of Σ deg² (which a hub node makes quadratic): this is
    * THE trick that makes distributed triangle counting survive
    * power-law graphs at 100 TB. All joins are keyed equi-joins;
    * counts and ordering keys are integers — fully deterministic.
    *
    * @param edges undirected edges, one row per edge, no self-loops
    *              required (self-loops are dropped); duplicates ok
    * @return one row per triangle (u, v, w), u < v < w by ordkey —
    *         each triangle exactly once
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = ScaleOps.materializeOnce(
      edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
        .where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct())
    val deg = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient: src = lower (deg, id), dst = higher; carry dst's ordkey
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val d = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("a")).otherwise(col("b")).as("src"),
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("b")).otherwise(col("a")).as("dst"),
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("db")).otherwise(col("da")).as("ddeg"))
    val x = d.select(col("src"), col("dst").as("v"), col("ddeg").as("dv"))
    val y = d.select(col("src"), col("dst").as("w"), col("ddeg").as("dw"))
    val wedges = x.join(y, Seq("src"))
      .where(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    wedges.join(d.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(col("src").as("u"), col("v"), col("w"))
  }
}
