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
    * round. The rounds run in [[ScaleOps.fixpoint]]: each round's
    * labels are checkpointed locally and that convergence aggregate
    * doubles as the materializing action — ONE job per round, lineage
    * truncated every round. Deterministic: min is order-independent
    * — no vertex-program race affects the fixpoint.
    *
    * @param edges undirected edge list; each row one edge
    * @return (id, lbl) — every node that appears in an edge, labelled
    *         with its component's minimum node id
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // the symmetric edge list is staged once, ADAPTIVELY: the caller's
    // feeder (e.g. the MinHash candidate generation) keeps AQE, and
    // every round reads the staged copy instead of re-running it
    val sym = ScaleOps.materializeOnce(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
        .distinct())
    val labels = ScaleOps.materializeOnce(
      sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lbl")))
    // decimal sum so huge id spaces can't overflow the comparison
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("lbl").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head().getDecimal(0)
      if (v == null) java.math.BigDecimal.ZERO else v
    }
    val seedSum = labelSum(labels)
    // one min-label propagation step (no materialization)
    def step(ls: DataFrame): DataFrame = {
      val viaNeighbours = sym.join(ls, sym("src") === ls("id"))
        .groupBy(col("dst").as("nid")).agg(min(col("lbl")).as("nlbl"))
      ls.join(viaNeighbours, ls("id") === viaNeighbours("nid"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
    }
    // `sym` is only read inside the loop (the returned labels plan is a
    // checkpoint result), so it is freed when the loop ends
    ScaleOps.fixpoint("connectedComponents", 30, labels,
        if (labels.isEmpty) None else Some(seedSum), loopOnly = Seq(sym)) { ls =>
      // TWO propagation steps per materialized round: labels cross two
      // hops per job, halving the scheduling/materialization barriers
      // for a given diameter. The plan per round holds exactly two
      // join+agg pairs (bounded — lineage still truncates each round),
      // and the monotone label-sum convergence test is unaffected (a
      // fixpoint is a fixpoint of the composed step too). Round jobs
      // stay ADAPTIVE: the co-partitioned SMJ shape measured 40%
      // slower at sf0.1 (SCALE.md, connected components).
      step(step(ls))
    } { (next, _, prevSum) =>
      Some(labelSum(next)).filter(_.compareTo(prevSum) != 0)
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
    * (u, v) counting rows present on only one side; the round's edge
    * count before it is also the job that materializes the round's
    * lazy checkpoint in [[ScaleOps.fixpoint]], so a round whose count
    * moved costs a single job. At the fixpoint the graph is a star
    * forest: every node points directly at its component's minimum.
    *
    * Output contract matches [[connectedComponents]] exactly,
    * self-loops included: (id, lbl) for every node appearing in an
    * edge — a node whose only edges are self-loops is its own
    * singleton component (the final left join below restores such
    * nodes, which the star iteration itself never sees). Spec-pinned
    * on path, clique, random, and self-loop graphs.
    */
  def connectedComponentsStar(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // Materialize the RAW pair list once: both the iteration's seed
    // AND the final all-nodes restore read it. Without this base the
    // closing left join re-executes the caller's whole edge subtree —
    // for dedup graphs that is the banded MinHash candidate
    // generation, easily as expensive as the CC rounds themselves.
    val base = ScaleOps.materializeOnce(edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v")))
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
    // two-sided anti-join emptiness test
    def changedEdges(next: DataFrame, prev: DataFrame): Long =
      next.withColumn("_n", lit(1))
        .join(prev.withColumn("_p", lit(1)), Seq("u", "v"), "full_outer")
        .where(col("_n").isNull || col("_p").isNull)
        .count()

    val seed = ScaleOps.materializeOnce(init)
    // the seed is materialized: its isEmpty and count are cheap re-reads
    val seedCount = if (seed.isEmpty) None else Some(seed.count())
    val g = ScaleOps.fixpoint("connectedComponentsStar", 50, seed, seedCount) { cur =>
      halfRound(halfRound(cur, large = true, dedup = false), large = false, dedup = true)
    } { (next, prev, prevCount) =>
      // two-tier exact fixpoint test: the count (which doubles as the
      // job materializing the lazy checkpoint) differing proves change
      // without the join; only a stable count pays the set-equality
      // full-outer join — and both sides arrive hash-clustered on
      // (u, v) from their round-final distincts, so that join plans
      // exchange-free.
      val cnt = next.count()
      if (cnt == prevCount && changedEdges(next, prev) == 0L) None else Some(cnt)
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
