package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.queries.Exact._
import graft.operators.PipelineOps

/** Graph-analytics, sampling, and attribution surface — the corpus
  * curation companions the dedup/retrieval families feed into:
  * link-graph importance (PageRank), weighted subsampling (priority
  * sampling), and first-touch revenue attribution.
  */
object AnalyticsQueries {

  /** PageRank over the symmetrized part–supplier bipartite graph
    * (3 power-iteration rounds, d = 0.85) — the link-analysis tier
    * beyond connected components: q_dup_clusters answers "what is
    * connected", this answers "what is central". Supplier nodes keep
    * their key; part nodes are offset by 1e6 to disjoin the id
    * spaces. The reference's per-entity importance weighting
    * (class-frequency weights, preprocessing.py) is the same
    * compute-weight-then-join shape.
    *
    * Scale: [[graft.operators.GraphOps.pageRank]] — one keyed
    * shuffle per round, integer contribution sums (floor-quantized
    * at 1e-12) so the reduction is partitioning-independent, N as a
    * broadcast 1-row aggregate. Top-50 is orderBy+limit →
    * TakeOrderedAndProject. The symmetrized graph has no dangling
    * nodes, so total rank mass is conserved (spec-pinned). */
  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val pairs = li.select(col("l_suppkey").as("src"),
      (col("l_partkey") + lit(1000000L)).as("dst")).distinct()
    val sym = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    graft.operators.GraphOps.pageRank(sym, "src", "dst", iters = 3, damping = 0.85)
      .orderBy(col("rank").desc, col("node").asc)
      .limit(50)
      .select(col("node"), col("outdeg").as("degree"), col("rank"))
  }

  val qPagerankSql: String = {
    // one power-iteration round: previous rank relation `r` (node,
    // outdeg, rank) → next. The contribution is floor-quantized to a
    // BIGINT before the dst-sum (order-independent); the damping
    // update is written as (1e0 - 8.5e-1) so both engines compute the
    // IDENTICAL IEEE subtraction the engine's `lit(1 - damping)` does.
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT d.node, d.outdeg, n.n_nodes,
         |    (1e0 - 8.5e-1) / CAST(n.n_nodes AS DOUBLE)
         |      + 8.5e-1 * (CAST(COALESCE(s.cs, 0) AS BIGINT) / 1e12) AS rank
         |  FROM deg d CROSS JOIN n
         |  LEFT JOIN (
         |    SELECT e.dst AS node, SUM(c.c) AS cs
         |    FROM e JOIN (
         |      SELECT node,
         |        CAST(FLOOR(rank / CAST(outdeg AS DOUBLE) * 1e12) AS BIGINT) AS c
         |      FROM $prev) c
         |    ON e.src = c.node
         |    GROUP BY e.dst) s
         |  ON d.node = s.node)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
       |  FROM lineitem),
       |e AS (SELECT src, dst FROM pairs
       |      UNION ALL SELECT dst AS src, src AS dst FROM pairs),
       |deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM e GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_nodes FROM deg),
       |r0 AS (
       |  SELECT d.node, d.outdeg, n.n_nodes,
       |    1e0 / CAST(n.n_nodes AS DOUBLE) AS rank
       |  FROM deg d CROSS JOIN n),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT node, outdeg AS degree, rank FROM r3
       |ORDER BY rank DESC, node ASC LIMIT 50""".stripMargin
  }

  /** Weighted sampling WITHOUT replacement — priority sampling
    * (Ohlsson's sequential Poisson / Duffield–Lund–Thorup): each
    * document draws a deterministic uniform u from its keyed hash and
    * gets priority `w / u`; the global top-30 priorities ARE the
    * weighted sample. Equivalent in distribution to
    * Efraimidis–Spirtes u^(1/w) ordering but uses ONE IEEE division
    * instead of a transcendental pow — which is what makes the
    * result bit-reproducible across engines (libm pow is not
    * correctly rounded; division is). Weight = n_chars, so long
    * documents are proportionally favoured — the
    * sample-by-token-budget step of corpus mixing (q_data_mixture is
    * the Bernoulli dual; this is the fixed-size dual).
    *
    * Determinism/scale: u = (h24 + 0.5)/2^24 from the first six hex
    * digits of md5('ws|'+doc_id) — the q_data_mixture hash source, so
    * reproducible under any partitioning/retry; the top-30 is
    * orderBy+limit → TakeOrderedAndProject (per-partition heaps, no
    * global sort); ties (collision probability ~ n²/2²⁵) break on
    * doc_id. */
  def qWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val h = (1 to 6).map(i =>
        PipelineOps.hexDigit("concat('ws|', cast(doc_id AS string))", i))
      .reduce((a, b) => a * lit(16) + b)
    Tables.documents(spark, dir)
      .withColumn("priority",
        col("n_chars").cast("double") * lit(16777216.0) /
          (h.cast("double") + lit(0.5)))
      .orderBy(col("priority").desc, col("doc_id").asc)
      .limit(30)
      .select(col("doc_id"), col("n_chars"), col("priority"))
  }

  val qWeightedSampleSql: String = {
    val h = (1 to 6).map(i =>
        PipelineOps.hexDigitSql("concat('ws|', cast(doc_id AS VARCHAR))", i.toString)
          .replace("instr(", "strpos("))
      .reduce((a, b) => s"(($a) * 16 + ($b))")
    s"""SELECT doc_id, n_chars,
       |  CAST(n_chars AS DOUBLE) * 16777216e0 / (CAST($h AS DOUBLE) + 5e-1)
       |    AS priority
       |FROM documents
       |ORDER BY priority DESC, doc_id ASC LIMIT 30""".stripMargin
  }

  /** First-touch attribution: credit each user's purchase revenue to
    * the CHANNEL of their first-ever event (earliest ts, event_id
    * tie-break) — the classic marketing-analytics join of a per-key
    * "first composite" (q_first_composite's shape) with a filtered
    * aggregate. One window keyed on user_id (never global), one
    * keyed join, decimal-exact revenue sums. */
  def qAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val firstTouch = ev
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("channel"))
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("revenue"))
    firstTouch.join(purchases, Seq("user_id"), "left")
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_users"),
        sum(coalesce(col("n_purchases"), lit(0L))).as("n_purchases"),
        (sum(coalesce(col("revenue"), lit(0.0)).cast(Dec)).cast("double"))
          .as("revenue"))
  }

  val qAttributionSql: String =
    """WITH first_touch AS (
      |  SELECT user_id, event_type AS channel FROM (
      |    SELECT user_id, event_type,
      |      ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY ts ASC, event_id ASC) AS rn
      |    FROM events)
      |  WHERE rn = 1),
      |purchases AS (
      |  SELECT user_id, COUNT(*) AS n_purchases,
      |    CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS revenue
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
      |SELECT f.channel, COUNT(*) AS n_users,
      |  CAST(SUM(COALESCE(p.n_purchases, 0)) AS BIGINT) AS n_purchases,
      |  CAST(SUM(CAST(COALESCE(p.revenue, 0e0) AS DECIMAL(25,6))) AS DOUBLE)
      |    AS revenue
      |FROM first_touch f LEFT JOIN purchases p ON f.user_id = p.user_id
      |GROUP BY f.channel""".stripMargin

  /** Triangle census of the FREQUENT co-order part graph (parts are
    * adjacent when ≥ 2 distinct orders contain both — the classic
    * market-basket support threshold) — the clustering-structure
    * measure beyond components and centrality: triangle density is
    * the standard cohesion signal (and the building block of local
    * clustering coefficients). The support cut is the scale lever,
    * same role as ngram_jaccard's df cap: single co-occurrence is
    * noise that makes the graph quadratically dense (1.2M edges at
    * sf0.1) while the support-2 graph holds ~4k signal edges — prune
    * BEFORE the O(m^1.5) step, at the keyed aggregate where it costs
    * one HAVING. Engine path:
    * [[graft.operators.GraphOps.triangles]] — degree-oriented wedge
    * join, O(m^1.5) not Σdeg², every join keyed. The oracle counts
    * the same triangles by the naive a<b<c triple self-join —
    * algorithm-independent agreement, same integer. */
  def qTriangles(spark: SparkSession, dir: String): DataFrame = {
    // pair generation without the self-join (the qBfsDepth shape, r19
    // opt): one shuffle gathers each order's part MULTISET — this
    // query's support convention counts ROW pairs, not distinct-part
    // pairs, so collect_list (not collect_set) preserves the self-join
    // multiplicities: duplicates of (a, b) inside one order contribute
    // mult(a)·mult(b) pairs either way; the sorted list makes every
    // in-row pair ordered, and the s < d filter drops the equal-part
    // pairs the strict join predicate never produced.
    // materialize once: the support aggregate would otherwise re-run
    // for each of the three census aggregates.
    val edges = graft.operators.ScaleOps.materializeOnce(
      Tables.lineitem(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_partkey"))).as("ps"))
        .select(explode(expr(
          """flatten(transform(ps, (x, i) ->
            |  transform(slice(ps, i + 2, size(ps)), y ->
            |    struct(x AS s, y AS d))))""".stripMargin)).as("p"))
        .where(col("p.s") < col("p.d"))
        .groupBy(col("p.s").as("a"), col("p.d").as("b"))
        .agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 2)
        .select("a", "b"))
    val nNodes = edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node")))
      .agg(count_distinct(col("node")).as("n_nodes"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    val nTri = graft.operators.GraphOps.triangles(edges, "a", "b")
      .agg(count(lit(1)).as("n_triangles"))
    nNodes.crossJoin(nEdges).crossJoin(nTri)
  }

  val qTrianglesSql: String =
    """WITH pe AS (
      |  SELECT a, b FROM (
      |    SELECT l1.l_partkey AS a, l2.l_partkey AS b, COUNT(*) AS sup
      |    FROM lineitem l1 JOIN lineitem l2
      |      ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      |    GROUP BY 1, 2)
      |  WHERE sup >= 2),
      |nodes AS (
      |  SELECT COUNT(DISTINCT node) AS n_nodes FROM (
      |    SELECT a AS node FROM pe UNION ALL SELECT b AS node FROM pe)),
      |ecnt AS (SELECT COUNT(*) AS n_edges FROM pe),
      |tri AS (
      |  SELECT COUNT(*) AS n_triangles
      |  FROM pe e1
      |  JOIN pe e2 ON e1.b = e2.a
      |  JOIN pe e3 ON e3.a = e1.a AND e3.b = e2.b)
      |SELECT n_nodes, n_edges, n_triangles
      |FROM nodes CROSS JOIN ecnt CROSS JOIN tri""".stripMargin

  /** Grid-density clustering (DBSCAN-lite) over the embedding plane:
    * bucket points into h=0.05 cells on the first two embedding
    * dims, keep cells with ≥ 8 points (the minPts density gate),
    * connect 8-neighborhood-adjacent dense cells, and label each
    * connected region via
    * [[graft.operators.GraphOps.connectedComponents]] — the
    * grid-based formulation that replaces DBSCAN's ε-range search
    * with a keyed equi-join on shifted cell keys (the q_geo_cells
    * trick), which is what makes density clustering distributable:
    * no pairwise distances, one shuffle per step, CC on the CELL
    * graph (thousands of nodes regardless of corpus size). Points in
    * sparse cells report as the noise row (cluster_rep = −1). The
    * oracle recomputes the fixpoint as a recursive-CTE transitive
    * closure — algorithm-independent agreement (the q_dup_clusters
    * pattern). Cell indices are exact: float→double cast and
    * floor-divide are bit-identical on both engines. */
  def qDensityCluster(spark: SparkSession, dir: String): DataFrame = {
    val (h, minPts) = (0.05, 8)
    val cellId = (cx: org.apache.spark.sql.Column, cy: org.apache.spark.sql.Column) =>
      (cx + lit(1000L)) * lit(2000L) + (cy + lit(1000L))
    val pts = Tables.embeddings(spark, dir).select(
      floor(col("embedding").getItem(0).cast("double") / lit(h)).cast("long").as("cx"),
      floor(col("embedding").getItem(1).cast("double") / lit(h)).cast("long").as("cy"))
    // materialize the CELL table, not just the dense subset (r19 opt):
    // the noise row aggregates the sparse cells, which previously
    // re-ran the corpus-sized point bucketing; every consumer (dense's
    // two join legs + noise) now reads the one materialized aggregate
    // and dense itself is a cheap filter over it
    val cells = graft.operators.ScaleOps.materializeOnce(
      pts.groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("n")))
    val dense = cells.where(col("n") >= minPts)
      .withColumn("cid", cellId(col("cx"), col("cy")))
    val offs = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 0), (0, 1),
      (1, -1), (1, 0), (1, 1))
    val odf = spark.createDataFrame(offs).toDF("dx", "dy")
    val shifted = dense.crossJoin(broadcast(odf))
      .select((col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"),
        col("cid").as("src"))
    val edges = shifted.join(dense.select(col("cx"), col("cy"), col("cid").as("dst")),
      Seq("cx", "cy"))
    val lab = graft.operators.GraphOps.connectedComponents(edges, "src", "dst")
    val clusters = dense
      .join(lab.withColumnRenamed("id", "cid"), Seq("cid"))
      .groupBy(col("lbl").as("cluster_rep"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_points"))
    val noise = cells.where(col("n") < minPts)
      .agg(count(lit(1)).as("n_cells"),
        coalesce(sum(col("n")), lit(0L)).as("n_points"))
      .select(lit(-1L).as("cluster_rep"), col("n_cells"), col("n_points"))
    clusters.unionByName(noise)
  }

  val qDensityClusterSql: String =
    """WITH RECURSIVE pts AS (
      |  SELECT CAST(FLOOR(CAST(embedding[1] AS DOUBLE) / 5e-2) AS BIGINT) AS cx,
      |         CAST(FLOOR(CAST(embedding[2] AS DOUBLE) / 5e-2) AS BIGINT) AS cy
      |  FROM embeddings),
      |cells AS (SELECT cx, cy, COUNT(*) AS n FROM pts GROUP BY 1, 2),
      |dense AS (
      |  SELECT cx, cy, n, (cx + 1000) * 2000 + (cy + 1000) AS cid
      |  FROM cells WHERE n >= 8),
      |offs(dx, dy) AS (VALUES (-1,-1), (-1,0), (-1,1), (0,-1), (0,0),
      |                        (0,1), (1,-1), (1,0), (1,1)),
      |edges AS (
      |  SELECT a.cid AS src, b.cid AS dst
      |  FROM dense a CROSS JOIN offs o
      |  JOIN dense b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |reach AS (
      |  SELECT id, id AS lbl FROM nodes
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      |lab AS (SELECT id AS cid, MIN(lbl) AS lbl FROM reach GROUP BY 1),
      |clusters AS (
      |  SELECT l.lbl AS cluster_rep, COUNT(*) AS n_cells,
      |    CAST(SUM(d.n) AS BIGINT) AS n_points
      |  FROM dense d JOIN lab l ON d.cid = l.cid GROUP BY 1),
      |noise AS (
      |  SELECT CAST(-1 AS BIGINT) AS cluster_rep, COUNT(*) AS n_cells,
      |    CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_points
      |  FROM cells WHERE n < 8)
      |SELECT cluster_rep, n_cells, n_points FROM clusters
      |UNION ALL SELECT cluster_rep, n_cells, n_points FROM noise""".stripMargin

  /** First-order Markov transition matrix over each user's event
    * sequence — the behavioural "language model" of the event stream
    * (and the exact relational shape of bigram LM estimation,
    * q_bigram_lm, applied to sessions instead of words): next event
    * via a per-user lead window (keyed, never global), transition
    * counts by one (from, to) aggregate, probabilities as one IEEE
    * divide of exact integer counts. */
  def qMarkovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seq = Tables.events(spark, dir)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
    val cnt = seq.groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
    cnt.join(tot, Seq("from_type"))
      .withColumn("p", col("n").cast("double") / col("n_from").cast("double"))
      .select("from_type", "to_type", "n", "n_from", "p")
  }

  val qMarkovTransitionsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |cnt AS (
      |  SELECT from_type, to_type, COUNT(*) AS n
      |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (
      |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM cnt GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n, t.n_from,
      |  CAST(c.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p
      |FROM cnt c JOIN tot t ON c.from_type = t.from_type""".stripMargin

  /** Retention cohort matrix — the product-analytics staple: users
    * cohorted by their first-activity WEEK (epoch-day div 7 — the
    * testdata spans one month, so weeks are the natural grain), then
    * counted as retained in each subsequent week they appear. Week
    * indices are pure integers, cohorts come from one per-user min
    * aggregate, the matrix from one (cohort, offset) aggregate over
    * distinct user-weeks — three keyed shuffles, no windows at all. */
  def qRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"),
      expr("datediff(cast(ts AS date), to_date('1970-01-01')) div 7")
        .cast("long").as("w"))
    val active = ev.distinct()
    val cohort = active.groupBy(col("user_id")).agg(min(col("w")).as("w0"))
    active.join(cohort, Seq("user_id"))
      .groupBy(col("w0").as("cohort_week"), (col("w") - col("w0")).as("weeks_since"))
      .agg(count(lit(1)).as("n_users"))
  }

  val qRetentionSql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS w
      |  FROM events),
      |cohort AS (SELECT user_id, MIN(w) AS w0 FROM ev GROUP BY 1)
      |SELECT c.w0 AS cohort_week, e.w - c.w0 AS weeks_since,
      |  COUNT(*) AS n_users
      |FROM ev e JOIN cohort c ON e.user_id = c.user_id
      |GROUP BY 1, 2""".stripMargin

  /** Association-rule mining, 2-itemsets (market-basket lift): parts
    * co-purchased in the same order with support ≥ 3, scored by
    * confidence and lift. Pair generation rides the basket table (the
    * qBfsDepth shape, r19 opt): ONE shuffle gathers each order's
    * distinct part set (collect_set subsumes the DISTINCT), pairs
    * explode in-row over the sorted set — fan-out per order is still
    * (items-per-order choose 2), never corpus-quadratic, minus the
    * self-join's exchange; the materialized baskets also feed the
    * per-part support counts and the order count, so the lineitem
    * distinct is computed once, not three times. Min-support prunes
    * before the metric joins, which key on part. Counts stay integers
    * end-to-end; confidence and lift are each ONE division/expression
    * over exact integers, identical across engines. At 100 TB this is
    * the a-priori candidate step — the same plan with a
    * hashed-aggregate pair count. */
  def qAssocRules(spark: SparkSession, dir: String): DataFrame = {
    val baskets = graft.operators.ScaleOps.materializeOnce(
      Tables.lineitem(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps")))
    val supp = baskets.select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("supp"))
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    baskets
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)), y ->
          |    struct(x AS s, y AS d))))""".stripMargin)).as("p"))
      .groupBy(col("p.s").as("part_a"), col("p.d").as("part_b"))
      .agg(count(lit(1)).as("supp_ab"))
      .filter(col("supp_ab") >= 3)
      .join(supp.select(col("l_partkey").as("part_a"), col("supp").as("supp_a")), "part_a")
      .join(supp.select(col("l_partkey").as("part_b"), col("supp").as("supp_b")), "part_b")
      .crossJoin(broadcast(nOrders))
      .withColumn("conf_ab",
        col("supp_ab").cast("double") / col("supp_a").cast("double"))
      .withColumn("lift",
        col("supp_ab").cast("double") * col("n_orders").cast("double") /
          (col("supp_a").cast("double") * col("supp_b").cast("double")))
      .select("part_a", "part_b", "supp_ab", "supp_a", "supp_b", "conf_ab", "lift")
  }

  val qAssocRulesSql: String =
    """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |supp AS (SELECT l_partkey, COUNT(*) AS supp FROM b GROUP BY 1),
      |no AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM b),
      |pairs AS (
      |  SELECT a.l_partkey AS part_a, c.l_partkey AS part_b, COUNT(*) AS supp_ab
      |  FROM b a JOIN b c
      |    ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 3)
      |SELECT p.part_a, p.part_b, CAST(p.supp_ab AS BIGINT) AS supp_ab,
      |  CAST(sa.supp AS BIGINT) AS supp_a, CAST(sb.supp AS BIGINT) AS supp_b,
      |  CAST(p.supp_ab AS DOUBLE) / CAST(sa.supp AS DOUBLE) AS conf_ab,
      |  CAST(p.supp_ab AS DOUBLE) * CAST(no.n_orders AS DOUBLE)
      |    / (CAST(sa.supp AS DOUBLE) * CAST(sb.supp AS DOUBLE)) AS lift
      |FROM pairs p
      |JOIN supp sa ON sa.l_partkey = p.part_a
      |JOIN supp sb ON sb.l_partkey = p.part_b
      |CROSS JOIN no""".stripMargin

  /** Cross-user concurrent-session detection — the interval-overlap
    * join: pairs of sessions (different users, both with ≥ 2 events)
    * whose [start, end] spans intersect. Sessions come from the
    * q_sessionize gaps-and-islands pass; the pair generation is
    * BIN-BLOCKED, not all-pairs: each session explodes to the hour
    * buckets it covers and candidates equi-join on the bucket — two
    * overlapping intervals both cover the bucket containing their
    * intersection start, so the blocking is complete; the exact span
    * predicate then filters, and a groupBy collapses multi-bucket
    * duplicates. The DuckDB oracle brute-forces all session pairs
    * with the same predicate, proving blocked completeness. At scale
    * the bucket key is the shuffle key; bucket width trades fan-out
    * (intervals spanning many buckets) against candidate density —
    * the q_spatial_join grid argument in time. */
  def qIntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("brk",
        when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 1800000L, 1)
        .otherwise(0))
      .withColumn("session_id", sum(col("brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(unix_micros(min(col("ts"))).as("st"),
        unix_micros(max(col("ts"))).as("en"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2)
    // materialize the sessionization once (r19 opt): both sides of the
    // broadcast self-join below would each re-run the events window +
    // groupBy (the corpus-sized subtree)
    val sessM = graft.operators.ScaleOps.materializeOnce(sess)
    val hourUs = 3600L * 1000000L
    val binned = sessM.withColumn("bucket",
      explode(expr(s"sequence(st div $hourUs, en div $hourUs)")))
    binned.as("a").join(binned.as("c"),
        col("a.bucket") === col("c.bucket") &&
        col("a.user_id") < col("c.user_id") &&
        col("a.st") <= col("c.en") && col("c.st") <= col("a.en"))
      .groupBy(
        col("a.user_id").as("user_a"), col("a.session_id").as("session_a"),
        col("c.user_id").as("user_b"), col("c.session_id").as("session_b"))
      .agg(
        (least(first(col("a.en")), first(col("c.en"))) -
         greatest(first(col("a.st")), first(col("c.st")))).as("overlap_us"))
  }

  val qIntervalOverlapSql: String =
    """WITH b AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1
      |         ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM b),
      |sess AS (
      |  SELECT user_id, session_id,
      |    epoch_us(MIN(ts)) AS st, epoch_us(MAX(ts)) AS en, COUNT(*) AS n
      |  FROM s GROUP BY 1, 2
      |  HAVING COUNT(*) >= 2)
      |SELECT a.user_id AS user_a, a.session_id AS session_a,
      |  c.user_id AS user_b, c.session_id AS session_b,
      |  least(a.en, c.en) - greatest(a.st, c.st) AS overlap_us
      |FROM sess a JOIN sess c
      |  ON a.user_id < c.user_id AND a.st <= c.en AND c.st <= a.en""".stripMargin

  /** Bounded-depth BFS shortest-path distance — the frontier-expansion
    * iteration the graph tier was missing next to components
    * (q_dup_clusters) and centrality (q_pagerank): distance ≤ 3 from a
    * deterministic seed set (partkey ≡ 0 mod 100) over the co-purchase
    * graph (parts sharing ≥ 2 orders, symmetrized). Three rounds of
    * (frontier ⋈ edges) keyed on the node — each round ONE shuffle, the
    * min-distance aggregate is the round's materialization (the
    * ScaleOps.fixpoint discipline), and the frontier only carries
    * NEWLY-reached nodes so repeated expansion of settled nodes never
    * happens. The DuckDB oracle is a recursive CTE with UNION dedup —
    * same semantics, declaratively stated. */
  def qBfsDepth(spark: SparkSession, dir: String): DataFrame = {
    // co-purchase pairs WITHOUT a self-join: one shuffle gathers each
    // order's distinct part set (collect_set also subsumes the
    // DISTINCT), pairs explode in-row over the sorted set (x < y by
    // construction), one more shuffle counts support — two exchanges
    // where distinct + self-join + groupBy cost three to four. Order
    // baskets are bounded (TPC-H ≤ 7 lines), so the in-row quadratic
    // is as safe as the join it replaces, which produced the same
    // pair rows through the shuffle.
    val half = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)), y ->
          |    struct(x AS s, y AS d))))""".stripMargin)).as("p"))
      .groupBy(col("p.s").as("s"), col("p.d").as("d"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
      .select("s", "d")
    // symmetric edge list materialized once: all 3 frontier-expansion
    // rounds read it instead of re-running the co-purchase pipeline
    val edges = graft.operators.ScaleOps.materializeOnce(
      half.unionByName(half.select(col("d").as("s"), col("s").as("d"))))
    var dist = graft.operators.ScaleOps.materializeLazily(Tables.part(spark, dir)
      .filter(col("p_partkey") % 100 === 0)
      .select(col("p_partkey").as("node"), lit(0).as("dist")))
    var frontier = dist
    for (round <- 1 to 3) {
      val reached = graft.operators.ScaleOps.materializeLazily(
        frontier.join(edges, col("node") === col("s"))
          .select(col("d").as("node"), lit(round).as("dist"))
          .join(dist.select(col("node").as("seen")), col("node") === col("seen"), "left_anti")
          .distinct())
      dist = graft.operators.ScaleOps.materializeLazily(dist.unionByName(reached))
      frontier = reached
    }
    dist.groupBy(col("node")).agg(min(col("dist")).as("dist"))
  }

  val qBfsDepthSql: String =
    """WITH RECURSIVE b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |half AS (
      |  SELECT a.l_partkey AS s, c.l_partkey AS d
      |  FROM b a JOIN b c
      |    ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |edges AS (SELECT s, d FROM half UNION ALL SELECT d, s FROM half),
      |seeds AS (SELECT p_partkey AS node FROM part WHERE p_partkey % 100 = 0),
      |walk(node, dist) AS (
      |  SELECT node, 0 FROM seeds
      |  UNION
      |  SELECT e.d, w.dist + 1
      |  FROM walk w JOIN edges e ON e.s = w.node
      |  WHERE w.dist < 3)
      |SELECT node, CAST(MIN(dist) AS INT) AS dist FROM walk GROUP BY node""".stripMargin

  /** Per-user dormancy / resurrection scan — the churn-analytics
    * cousin of q_retention: gaps > 24 h between a user's consecutive
    * events, i.e. the user went dormant and came back. One user-keyed
    * ordered window (lag), integer-microsecond gap arithmetic, one
    * aggregation. Only users with at least one resurrection emit. */
  def qResurrection(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("tus", unix_micros(col("ts")))
      .withColumn("gap", col("tus") - lag(col("tus"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("gap") > 86400000000L, 1L).otherwise(0L)).as("n_resurrections"),
        max(col("gap")).as("max_gap_us"))
      .filter(col("n_resurrections") > 0)
  }

  val qResurrectionSql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS gap
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN gap > 86400000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_resurrections,
      |  MAX(gap) AS max_gap_us
      |FROM g GROUP BY user_id
      |HAVING SUM(CASE WHEN gap > 86400000000 THEN 1 ELSE 0 END) > 0""".stripMargin

  /** Bitmap-index build + bitmap-AND intersection — the OLAP
    * acceleration structure (roaring-style, here fixed 64-bit blocks):
    * each event_type's user audience compresses to one long per
    * 32-user block (`bit_or` of single-bit masks — mergeable, so the
    * build is one map-combinable aggregation), and audience
    * intersections become popcounts of block-wise ANDs — a keyed join
    * on the block id over |users|/32 rows instead of a row-level
    * set intersection. Cardinalities from popcount sums cross-check
    * q_audience_overlap's exact intersections (same numbers, ~32×
    * less data moved). 32-user blocks keep every shift below bit 63
    * — DuckDB's checked BIGINT shift rejects 1 << 63. */
  def qBitmapIndex(spark: SparkSession, dir: String): DataFrame = {
    // materialize the block bitmaps once (r19 opt): the sizes leg and
    // both sides of the broadcast self-join would each re-run the
    // events DISTINCT + bitmap build
    val blocks = graft.operators.ScaleOps.materializeOnce(
      Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type"), expr("user_id div 32").as("blk"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT)))")
        .as("bm")))
    val sizes = blocks.groupBy(col("event_type"))
      .agg(sum(expr("bit_count(bm)")).as("card"), count(lit(1)).as("n_blocks"))
    blocks.as("x").join(blocks.as("y"),
        col("x.blk") === col("y.blk") &&
        col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(sum(expr("bit_count(x.bm & y.bm)")).as("inter"))
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("card").as("card_a"), col("n_blocks").as("blocks_a"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("card").as("card_b"))), "type_b")
      .select("type_a", "type_b", "inter", "card_a", "card_b", "blocks_a")
  }

  val qBitmapIndexSql: String =
    """WITH aud AS (SELECT DISTINCT event_type, user_id FROM events),
      |blocks AS (
      |  SELECT event_type, user_id // 32 AS blk,
      |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bm
      |  FROM aud GROUP BY 1, 2),
      |sizes AS (
      |  SELECT event_type, CAST(SUM(bit_count(bm)) AS BIGINT) AS card,
      |    COUNT(*) AS n_blocks
      |  FROM blocks GROUP BY 1),
      |inter AS (
      |  SELECT x.event_type AS type_a, y.event_type AS type_b,
      |    CAST(SUM(bit_count(x.bm & y.bm)) AS BIGINT) AS inter
      |  FROM blocks x JOIN blocks y
      |    ON x.blk = y.blk AND x.event_type < y.event_type
      |  GROUP BY 1, 2)
      |SELECT i.type_a, i.type_b, i.inter,
      |  sa.card AS card_a, sb.card AS card_b, sa.n_blocks AS blocks_a
      |FROM inter i
      |JOIN sizes sa ON sa.event_type = i.type_a
      |JOIN sizes sb ON sb.event_type = i.type_b""".stripMargin

  /** Degree distribution of the co-purchase graph — the first summary
    * a graph pipeline prints (power-law check, hub detection feeding
    * the q_triangles degree-orientation choice): per-node degree over
    * the symmetrized edge set, then the degree histogram. Two keyed
    * aggregations after the same basket pair-generation as
    * q_assoc_rules. */
  def qDegreeDist(spark: SparkSession, dir: String): DataFrame = {
    // pair generation without the distinct + self-join (the qBfsDepth
    // shape, r19 opt): one shuffle gathers each order's distinct part
    // set (collect_set subsumes the DISTINCT), pairs explode in-row
    // over the sorted set (s < d by construction), one more shuffle
    // counts support — two exchanges where distinct + self-join +
    // groupBy cost three, same pair rows (baskets are bounded).
    val half = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)), y ->
          |    struct(x AS s, y AS d))))""".stripMargin)).as("p"))
      .groupBy(col("p.s").as("s"), col("p.d").as("d"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
      .select("s", "d")
    half.unionByName(half.select(col("d").as("s"), col("s").as("d")))
      .groupBy(col("s")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
  }

  val qDegreeDistSql: String =
    """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |half AS (
      |  SELECT a.l_partkey AS s, c.l_partkey AS d
      |  FROM b a JOIN b c
      |    ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |edges AS (SELECT s, d FROM half UNION ALL SELECT d, s FROM half),
      |deg AS (SELECT s, COUNT(*) AS degree FROM edges GROUP BY s)
      |SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree""".stripMargin

  /** DAU/WAU stickiness — daily active users over trailing-7-day
    * active users, the product-metric pair behind every engagement
    * dashboard. The trailing-window DISTINCT is the hard part: a
    * sliding count-distinct cannot come from a running window
    * (distinct doesn't decompose), so each (day, user) activity row
    * fans out to the ≤ 7 target days whose trailing window covers it
    * (the q_hopping map-side fan-out) and ONE keyed
    * distinct-aggregation per target day finishes it. Stickiness is a
    * single integer-ratio divide. */
  def qDauWau(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").as("d"))
      .distinct()
    val dau = act.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val wau = act
      .withColumn("target", explode(expr("sequence(d, d + 6)")))
      .groupBy(col("target").as("d"))
      .agg(countDistinct(col("user_id")).as("wau"))
    // keep only days that actually occur (the fan-out creates 6
    // phantom trailing days past the corpus end)
    dau.join(wau, "d")
      .withColumn("stickiness", col("dau").cast("double") / col("wau").cast("double"))
      .select("d", "dau", "wau", "stickiness")
  }

  val qDauWauSql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d
      |  FROM events),
      |dau AS (SELECT d, COUNT(*) AS dau FROM act GROUP BY d),
      |wau AS (
      |  SELECT target AS d, COUNT(DISTINCT user_id) AS wau FROM (
      |    SELECT user_id, unnest(range(d, d + 7)) AS target FROM act)
      |  GROUP BY 1)
      |SELECT dau.d, dau.dau, CAST(wau.wau AS BIGINT) AS wau,
      |  CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
      |FROM dau JOIN wau ON dau.d = wau.d""".stripMargin

  /** RFM segmentation — recency / frequency / monetary quartile codes
    * per purchasing user, the classic customer-base cut. The quartile
    * ASSIGNMENT is scale-safe: exact quartile thresholds come from ONE
    * 1-row aggregate (broadcast back), and each user compares against
    * them — never an NTILE window over the whole user base (the
    * partition-less-rank shape this engine bans). Threshold
    * comparisons use <= consistently so boundary ties land identically
    * on both engines; output is the segment histogram plus per-segment
    * exact revenue. */
  def qRfm(spark: SparkSession, dir: String): DataFrame = {
    val maxD = Tables.events(spark, dir)
      .agg(max(expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"))
        .as("dmax"))
    val perUser = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("d", expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"))
      .groupBy(col("user_id"))
      .agg(max(col("d")).as("last_d"),
        count(lit(1)).as("f"),
        dsum(col("value")).as("m"))
      .crossJoin(broadcast(maxD))
      .withColumn("r", col("dmax") - col("last_d"))
    val cuts = perUser.agg(
      percentile(col("r").cast("double"), typedLit(Seq(0.25, 0.5, 0.75))).as("rc"),
      percentile(col("f").cast("double"), typedLit(Seq(0.25, 0.5, 0.75))).as("fc"),
      percentile(col("m"), typedLit(Seq(0.25, 0.5, 0.75))).as("mc"))
    def code(v: Column, cutsCol: Column, reverse: Boolean): Column = {
      val c1 = element_at(cutsCol, 1); val c2 = element_at(cutsCol, 2)
      val c3 = element_at(cutsCol, 3)
      val q = when(v <= c1, 1).when(v <= c2, 2).when(v <= c3, 3).otherwise(4)
      if (reverse) lit(5) - q else q // low recency = GOOD = 4
    }
    perUser.crossJoin(broadcast(cuts))
      .withColumn("r_code", code(col("r").cast("double"), col("rc"), reverse = true))
      .withColumn("f_code", code(col("f").cast("double"), col("fc"), reverse = false))
      .withColumn("m_code", code(col("m"), col("mc"), reverse = false))
      .groupBy(col("r_code"), col("f_code"), col("m_code"))
      .agg(count(lit(1)).as("n_users"), dsum(col("m")).as("segment_revenue"))
  }

  val qRfmSql: String =
    s"""WITH dm AS (
       |  SELECT MAX(CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT))
       |    AS dmax FROM events),
       |pu AS (
       |  SELECT e.user_id,
       |    ANY_VALUE(dm.dmax)
       |      - MAX(CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)) AS r,
       |    COUNT(*) AS f,
       |    ${dsumSql("e.value")} AS m
       |  FROM events e CROSS JOIN dm
       |  WHERE e.event_type = 'purchase'
       |  GROUP BY e.user_id),
       |cuts AS (
       |  SELECT quantile_cont(CAST(r AS DOUBLE), [0.25, 0.5, 0.75]) AS rc,
       |         quantile_cont(CAST(f AS DOUBLE), [0.25, 0.5, 0.75]) AS fc,
       |         quantile_cont(m, [0.25, 0.5, 0.75]) AS mc
       |  FROM pu),
       |coded AS (
       |  SELECT pu.m,
       |    5 - (CASE WHEN CAST(pu.r AS DOUBLE) <= c.rc[1] THEN 1
       |              WHEN CAST(pu.r AS DOUBLE) <= c.rc[2] THEN 2
       |              WHEN CAST(pu.r AS DOUBLE) <= c.rc[3] THEN 3 ELSE 4 END) AS r_code,
       |    CASE WHEN CAST(pu.f AS DOUBLE) <= c.fc[1] THEN 1
       |         WHEN CAST(pu.f AS DOUBLE) <= c.fc[2] THEN 2
       |         WHEN CAST(pu.f AS DOUBLE) <= c.fc[3] THEN 3 ELSE 4 END AS f_code,
       |    CASE WHEN pu.m <= c.mc[1] THEN 1
       |         WHEN pu.m <= c.mc[2] THEN 2
       |         WHEN pu.m <= c.mc[3] THEN 3 ELSE 4 END AS m_code
       |  FROM pu CROSS JOIN cuts c)
       |SELECT r_code, f_code, m_code, COUNT(*) AS n_users,
       |  ${dsumSql("m")} AS segment_revenue
       |FROM coded GROUP BY 1, 2, 3""".stripMargin

  /** Forward conversion (view → purchase within 10 minutes) — the
    * asof-FORWARD direction completing the backward/nearest family:
    * each view picks up the same user's NEXT purchase via an
    * ignore-nulls `first` over the 1-following frame, then the
    * conversion predicate bounds the gap. One keyed window pass — no
    * per-view subquery, no join. */
  def qViewToPurchase(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .withColumn("tus", unix_micros(col("ts")))
      .withColumn("p_t", when(col("event_type") === "purchase", col("tus")))
      .withColumn("next_p", first(col("p_t"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "view")
      .withColumn("gap", col("next_p") - col("tus"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_views"),
        sum(when(col("gap") <= 600000000L, 1L).otherwise(0L)).as("n_converted"),
        min(col("gap")).as("min_gap_us"))
  }

  val qViewToPurchaseSql: String =
    """WITH m AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS tus,
      |    first_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_p
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_views,
      |  CAST(SUM(CASE WHEN next_p - tus <= 600000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_converted,
      |  MIN(next_p - tus) AS min_gap_us
      |FROM m WHERE event_type = 'view'
      |GROUP BY user_id""".stripMargin

  /** Growth accounting — the weekly new / retained / resurrected /
    * churned decomposition every growth team reports: per (user, week)
    * activity distinct once, each user's first week from one keyed
    * aggregate, and the week-over-week classification from a
    * full-outer self-join of activity against itself shifted one week
    * (keyed on (user, week)) — new: first activity; retained: active
    * both weeks; resurrected: active now, idle last week, not new;
    * churned: active last week, gone this week (attributed to the
    * week they went missing). Identity: retained + churned = last
    * week's actives, per construction. All integer counts. */
  def qGrowthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7 AS BIGINT)")
          .as("w"))
      .distinct()
    val firstW = act.groupBy(col("user_id")).agg(min(col("w")).as("w0"))
    val cur = act.select(col("user_id"), col("w"))
    val prev = act.select(col("user_id"), (col("w") + 1).as("w"),
      lit(1).as("was_prev"))
    cur.withColumn("is_cur", lit(1))
      .join(prev, Seq("user_id", "w"), "full_outer")
      .join(firstW, "user_id")
      .groupBy(col("w"))
      .agg(
        sum(when(col("is_cur") === 1 && col("w") === col("w0"), 1L).otherwise(0L))
          .as("new_users"),
        sum(when(col("is_cur") === 1 && col("was_prev") === 1, 1L).otherwise(0L))
          .as("retained"),
        sum(when(col("is_cur") === 1 && col("was_prev").isNull &&
          col("w") > col("w0"), 1L).otherwise(0L)).as("resurrected"),
        sum(when(col("is_cur").isNull && col("was_prev") === 1, 1L).otherwise(0L))
          .as("churned"))
  }

  val qGrowthAccountingSql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS w
      |  FROM events),
      |fw AS (SELECT user_id, MIN(w) AS w0 FROM act GROUP BY 1),
      |cur AS (SELECT user_id, w, 1 AS is_cur FROM act),
      |prev AS (SELECT user_id, w + 1 AS w, 1 AS was_prev FROM act),
      |j AS (
      |  SELECT COALESCE(c.user_id, p.user_id) AS user_id,
      |    COALESCE(c.w, p.w) AS w, c.is_cur, p.was_prev
      |  FROM cur c FULL OUTER JOIN prev p
      |    ON c.user_id = p.user_id AND c.w = p.w)
      |SELECT j.w,
      |  CAST(SUM(CASE WHEN j.is_cur = 1 AND j.w = f.w0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS new_users,
      |  CAST(SUM(CASE WHEN j.is_cur = 1 AND j.was_prev = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS retained,
      |  CAST(SUM(CASE WHEN j.is_cur = 1 AND j.was_prev IS NULL AND j.w > f.w0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
      |  CAST(SUM(CASE WHEN j.is_cur IS NULL AND j.was_prev = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS churned
      |FROM j JOIN fw f ON f.user_id = j.user_id
      |GROUP BY j.w""".stripMargin

  /** Seasonal-naive forecast backtest — the baseline every forecasting
    * pipeline must beat: predict each day's total as the SAME WEEKDAY
    * one week earlier (lag-7 over the daily aggregate), score the
    * overlap by quantized MAE and bias per event type. A lag over the
    * tiny per-type daily series (keyed window), exact daily sums, one
    * quantized error aggregation. */
  def qSeasonalNaive(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").as("d"))
      .agg(dsum(col("value")).as("v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    daily
      .withColumn("pred", lag(col("v"), 7).over(w))
      .filter(col("pred").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        (sum(floor(abs(col("v") - col("pred")) * lit(1e6)).cast("long"))
          .cast("double") / lit(1e6) / count(lit(1))).as("mae"),
        (sum(floor((col("v") - col("pred")) * lit(1e6)).cast("long"))
          .cast("double") / lit(1e6) / count(lit(1))).as("bias"))
  }

  val qSeasonalNaiveSql: String =
    s"""WITH daily AS (
       |  SELECT event_type,
       |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
       |    ${dsumSql("value")} AS v
       |  FROM events GROUP BY 1, 2),
       |l AS (
       |  SELECT event_type, v,
       |    lag(v, 7) OVER (PARTITION BY event_type ORDER BY d) AS pred
       |  FROM daily)
       |SELECT event_type, COUNT(*) AS n_days,
       |  CAST(SUM(CAST(FLOOR(abs(v - pred) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
       |    / COUNT(*) AS mae,
       |  CAST(SUM(CAST(FLOOR((v - pred) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
       |    / COUNT(*) AS bias
       |FROM l WHERE pred IS NOT NULL
       |GROUP BY event_type""".stripMargin

  /** Week-over-week growth per event type — the trend line over the
    * q_growth_accounting decomposition: weekly exact revenue, lag-1
    * via a type-keyed window, growth as one guarded division (first
    * week and zero-base weeks emit NULL, identically cross-engine). */
  def qWowGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7 AS BIGINT)")
          .as("w"))
      .agg(dsum(col("value")).as("rev"), count(lit(1)).as("n"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("w"))
    weekly
      .withColumn("prev_rev", lag(col("rev"), 1).over(byType))
      .withColumn("wow_growth",
        when(col("prev_rev") > 0.0,
          (col("rev") - col("prev_rev")) / col("prev_rev"))
          .otherwise(lit(null).cast("double")))
      .select("event_type", "w", "n", "rev", "prev_rev", "wow_growth")
  }

  val qWowGrowthSql: String =
    s"""WITH weekly AS (
       |  SELECT event_type,
       |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS w,
       |    ${dsumSql("value")} AS rev, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |l AS (
       |  SELECT event_type, w, n, rev,
       |    lag(rev, 1) OVER (PARTITION BY event_type ORDER BY w) AS prev_rev
       |  FROM weekly)
       |SELECT event_type, w, n, rev, prev_rev,
       |  CASE WHEN prev_rev > 0.0 THEN (rev - prev_rev) / prev_rev END AS wow_growth
       |FROM l""".stripMargin

  /** Top movers — the parts with the biggest absolute week-over-week
    * revenue swings: part-week exact revenue, a PART-keyed lag (the
    * key that shards at any scale, unlike a per-type global series),
    * and a TakeOrderedAndProject top-15 by |Δ| with integer-cents
    * ordering so ranking ties cannot straddle an ulp. */
  def qTopMovers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pw = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"),
        expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') div 7 AS BIGINT)")
          .as("w"))
      .agg(dsum(col("l_extendedprice")).as("rev"))
    val byPart = Window.partitionBy(col("l_partkey")).orderBy(col("w"))
    pw.withColumn("prev_rev", lag(col("rev"), 1).over(byPart))
      .filter(col("prev_rev").isNotNull)
      .withColumn("delta_cents",
        (floor(col("rev") * 100.0) - floor(col("prev_rev") * 100.0)).cast("long"))
      .orderBy(abs(col("delta_cents")).desc, col("l_partkey").asc, col("w").asc)
      .limit(15)
      .select(col("l_partkey"), col("w"), col("rev"), col("prev_rev"),
        col("delta_cents"))
  }

  val qTopMoversSql: String =
    s"""WITH pw AS (
       |  SELECT l_partkey,
       |    CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) // 7
       |      AS BIGINT) AS w,
       |    ${dsumSql("l_extendedprice")} AS rev
       |  FROM lineitem GROUP BY 1, 2),
       |l AS (
       |  SELECT l_partkey, w, rev,
       |    lag(rev, 1) OVER (PARTITION BY l_partkey ORDER BY w) AS prev_rev
       |  FROM pw)
       |SELECT l_partkey, w, rev, prev_rev,
       |  CAST(FLOOR(rev * 100.0) - FLOOR(prev_rev * 100.0) AS BIGINT) AS delta_cents
       |FROM l WHERE prev_rev IS NOT NULL
       |ORDER BY abs(CAST(FLOOR(rev * 100.0) - FLOOR(prev_rev * 100.0) AS BIGINT)) DESC,
       |  l_partkey ASC, w ASC
       |LIMIT 15""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_wow_growth" -> (qWowGrowth _),
    "q_top_movers" -> (qTopMovers _),
    "q_growth_accounting" -> (qGrowthAccounting _),
    "q_seasonal_naive" -> (qSeasonalNaive _),
    "q_dau_wau" -> (qDauWau _),
    "q_rfm" -> (qRfm _),
    "q_view_to_purchase" -> (qViewToPurchase _),
    "q_bitmap_index" -> (qBitmapIndex _),
    "q_degree_dist" -> (qDegreeDist _),
    "q_bfs_depth" -> (qBfsDepth _),
    "q_resurrection" -> (qResurrection _),
    "q_assoc_rules" -> (qAssocRules _),
    "q_interval_overlap" -> (qIntervalOverlap _),
    "q_pagerank" -> (qPagerank _),
    "q_triangles" -> (qTriangles _),
    "q_density_cluster" -> (qDensityCluster _),
    "q_markov_transitions" -> (qMarkovTransitions _),
    "q_retention" -> (qRetention _),
    "q_weighted_sample" -> (qWeightedSample _),
    "q_attribution" -> (qAttribution _),
  )

  val oracle: Map[String, String] = Map(
    "q_wow_growth" -> qWowGrowthSql,
    "q_top_movers" -> qTopMoversSql,
    "q_growth_accounting" -> qGrowthAccountingSql,
    "q_seasonal_naive" -> qSeasonalNaiveSql,
    "q_dau_wau" -> qDauWauSql,
    "q_rfm" -> qRfmSql,
    "q_view_to_purchase" -> qViewToPurchaseSql,
    "q_bitmap_index" -> qBitmapIndexSql,
    "q_degree_dist" -> qDegreeDistSql,
    "q_bfs_depth" -> qBfsDepthSql,
    "q_resurrection" -> qResurrectionSql,
    "q_assoc_rules" -> qAssocRulesSql,
    "q_interval_overlap" -> qIntervalOverlapSql,
    "q_pagerank" -> qPagerankSql,
    "q_triangles" -> qTrianglesSql,
    "q_density_cluster" -> qDensityClusterSql,
    "q_markov_transitions" -> qMarkovTransitionsSql,
    "q_retention" -> qRetentionSql,
    "q_weighted_sample" -> qWeightedSampleSql,
    "q_attribution" -> qAttributionSql,
  )
}
