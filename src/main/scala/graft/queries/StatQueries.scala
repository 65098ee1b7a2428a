package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.queries.Exact._

/** Statistical-analysis surface over the events stream: exact
  * correlation/covariance via one-pass sufficient statistics, per-key
  * z-score anomaly flagging, and Z-order (Morton) locality keys for
  * multidimensional data layout.
  *
  * These extend the reference's per-band statistics vocabulary
  * (src/utils.py:12-49 running mean/std; preprocessing.py per-class
  * summaries) to the bivariate and layout cases a corpus-scale
  * pipeline needs. Every query is a single shuffle keyed on its group
  * column — the sufficient-statistics decomposition is exactly what
  * makes map-side partial aggregation (and therefore 100 TB) work.
  */
object StatQueries {

  /** Pearson correlation + covariance of (hour-of-day, value) per
    * event type, computed from exact one-pass sufficient statistics
    * (n, Σx, Σy, Σx², Σy², Σxy) rather than Spark's built-in
    * `corr` (whose streaming update order is nondeterministic across
    * partitionings). Integer x keeps Σx/Σx² exact; [[Exact.dsum]]
    * keeps the double sums order-independent; the final
    * mean/variance/corr arithmetic is a fixed IEEE sequence written
    * identically in the oracle. One shuffle on event_type. */
  def qCorrStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), hour(col("ts")).cast("long").as("x"), col("value").as("y"))
    ev.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        dsum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        dsum(col("y") * col("y")).as("syy"),
        dsum(col("y") * col("x")).as("sxy"))
      .withColumn("mean_x", col("sx").cast("double") / col("n"))
      .withColumn("mean_y", col("sy") / col("n"))
      .withColumn("var_x",
        col("sxx").cast("double") / col("n") - col("mean_x") * col("mean_x"))
      .withColumn("var_y",
        col("syy") / col("n") - col("mean_y") * col("mean_y"))
      .withColumn("cov_xy",
        col("sxy") / col("n") - col("mean_x") * col("mean_y"))
      // degenerate groups (constant x or constant y) have zero — or, from
      // floating cancellation, tiny-negative — variance; the unguarded
      // ratio is then 0/0 → NaN in Spark while DuckDB may error on
      // sqrt(negative). Both engines compute var_* by the identical IEEE
      // sequence, so guarding on the SAME comparison keeps the branch
      // decision bit-identical cross-engine: degenerate → NULL.
      .withColumn("corr_xy",
        when(col("var_x") > 0 && col("var_y") > 0,
          col("cov_xy") / sqrt(col("var_x") * col("var_y")))
          .otherwise(lit(null).cast("double")))
      .select("event_type", "n", "mean_x", "mean_y", "var_x", "var_y", "cov_xy", "corr_xy")
  }

  val qCorrStatsSql: String =
    s"""WITH s AS (
       |  SELECT event_type, COUNT(*) AS n,
       |    SUM(x) AS sx, ${dsumSql("y")} AS sy,
       |    SUM(x * x) AS sxx, ${dsumSql("y * y")} AS syy,
       |    ${dsumSql("y * x")} AS sxy
       |  FROM (SELECT event_type, CAST(hour(ts) AS BIGINT) AS x, value AS y
       |        FROM events)
       |  GROUP BY event_type),
       |m AS (
       |  SELECT event_type, n,
       |    CAST(sx AS DOUBLE) / n AS mean_x, sy / n AS mean_y,
       |    CAST(sxx AS DOUBLE) / n AS exx, syy / n AS eyy, sxy / n AS exy
       |  FROM s)
       |SELECT event_type, n, mean_x, mean_y,
       |  exx - mean_x * mean_x AS var_x,
       |  eyy - mean_y * mean_y AS var_y,
       |  exy - mean_x * mean_y AS cov_xy,
       |  CASE WHEN (exx - mean_x * mean_x) > 0 AND (eyy - mean_y * mean_y) > 0
       |    THEN (exy - mean_x * mean_y)
       |      / sqrt((exx - mean_x * mean_x) * (eyy - mean_y * mean_y))
       |    ELSE NULL END AS corr_xy
       |FROM m""".stripMargin

  /** Per-user z-score anomaly flagging: one window shuffle keyed on
    * user_id computes each user's exact sufficient statistics
    * (decimal sums over the full partition frame), then each event's
    * z-score in the same pass — no self-join, no second shuffle. Rows
    * with |z| > 2.5 survive. The reference's QA-masking step
    * (preprocessing.py:154-176) is the univariate ancestor: drop
    * observations that deviate from the per-point expectation. */
  def qAnomalyZscore(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val ev = Tables.events(spark, dir)
    ev.select(col("event_id"), col("user_id"), col("value"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sum_x", sum(col("value").cast(Dec)).over(w).cast("double"))
      .withColumn("sum_x2", sum((col("value") * col("value")).cast(Dec)).over(w).cast("double"))
      .withColumn("mean", col("sum_x") / col("n"))
      .withColumn("sd",
        sqrt(col("sum_x2") / col("n") - col("mean") * col("mean")))
      .where(col("n") >= 10 && col("sd") > 0)
      .withColumn("z", (col("value") - col("mean")) / col("sd"))
      .where(abs(col("z")) > 2.5)
      .select("event_id", "user_id", "value", "mean", "sd", "z")
  }

  val qAnomalyZscoreSql: String =
    """WITH w AS (
      |  SELECT event_id, user_id, value,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER (PARTITION BY user_id) AS DOUBLE) AS sum_x,
      |    CAST(SUM(CAST(value * value AS DECIMAL(25,6))) OVER (PARTITION BY user_id) AS DOUBLE) AS sum_x2
      |  FROM events),
      |m AS (
      |  SELECT event_id, user_id, value, n, sum_x / n AS mean,
      |    sqrt(sum_x2 / n - (sum_x / n) * (sum_x / n)) AS sd
      |  FROM w)
      |SELECT event_id, user_id, value, mean, sd,
      |  (value - mean) / sd AS z
      |FROM m
      |WHERE n >= 10 AND sd > 0 AND abs((value - mean) / sd) > 2.5""".stripMargin

  /** 8-bit × 8-bit Z-order (Morton) interleave as a pure column
    * expression — disjoint bit positions, so the OR is an exact
    * integer sum on both engines. */
  private def morton8(x: Column, y: Column): Column =
    (0 until 8).map { i =>
      (shiftleft(shiftright(x, i) .bitwiseAND(lit(1L)), 2 * i)
        + shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)

  /** Z-order layout keys: bucket two dimensions (user, event id) to
    * 8 bits each (engine uses `pmod`, always non-negative; the oracle
    * spells the same semantics as ((x % 256) + 256) % 256 because
    * DuckDB's % takes the dividend's sign — identical for the
    * non-negative testdata ids AND for any future negative ones),
    * interleave into a 16-bit Morton key, and summarize
    * the resulting 64-block layout (count, key range, exact value
    * sum per block). At 100 TB the Morton key is the sort/cluster
    * column a writer orders by so range predicates on EITHER
    * dimension prune contiguous file ranges — the standard
    * multidimensional-layout trick (Delta/Iceberg Z-ordering) that a
    * plain single-column sort cannot give. The query itself is one
    * shuffle on the 64-value block key. */
  def qZorder(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("xb", pmod(col("user_id"), lit(256L)))
      .withColumn("yb", pmod(col("event_id"), lit(256L)))
      .withColumn("zkey", morton8(col("xb"), col("yb")))
    ev.withColumn("block", shiftright(col("zkey"), 10))
      .groupBy(col("block"))
      .agg(count(lit(1)).as("n"),
        min(col("zkey")).as("min_z"),
        max(col("zkey")).as("max_z"),
        dsum(col("value")).as("sum_value"))
  }

  val qZorderSql: String = {
    val interleave = (0 until 8).map { i =>
      s"(((xb >> $i) & 1) << ${2 * i}) + (((yb >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    s"""WITH b AS (
       |  SELECT event_id, user_id, value,
       |    ((user_id % 256) + 256) % 256 AS xb,
       |    ((event_id % 256) + 256) % 256 AS yb
       |  FROM events),
       |z AS (
       |  SELECT value, ($interleave) AS zkey FROM b)
       |SELECT zkey >> 10 AS block, COUNT(*) AS n,
       |  MIN(zkey) AS min_z, MAX(zkey) AS max_z,
       |  ${dsumSql("value")} AS sum_value
       |FROM z GROUP BY 1""".stripMargin
  }

  /** One xy→d Hilbert-curve refinement stage at scale `s` (the
    * classic iterative algorithm, e.g. Hamilton's compact form): the
    * quadrant term added to d, then the data-dependent
    * reflect+transpose that keeps successive cells adjacent. Emitted
    * as SQL TEXT so the engine (`selectExpr`) and the DuckDB oracle
    * run the IDENTICAL integer arithmetic — no dialect divergence
    * possible. The XOR in `(3·rx) ⊕ ry` is folded to pure CASE
    * arithmetic (rx=1 → 3−ry, else ry), valid because rx, ry ∈ {0,1}. */
  private def hilbertStage(s: Int): (String, String, String) = {
    val rx = s"(CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END)"
    val ry = s"(CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)"
    // reflection uses the FULL-domain mask 255 (= bitwise complement
    // within [0,256)), not s-1: later stages re-extract lower bits with
    // `& s`, which only stays consistent under the all-ones reflection
    val nd = s"d + ${s.toLong * s} * (CASE WHEN $rx = 1 THEN 3 - $ry ELSE $ry END)"
    val nx = s"CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN 255 - y ELSE y END) ELSE x END"
    val ny = s"CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN 255 - x ELSE x END) ELSE y END"
    (nx, ny, nd)
  }

  private val hilbertScales = Seq(128, 64, 32, 16, 8, 4, 2, 1)

  /** Apply the full 8-level Hilbert transform to a frame with integer
    * columns (x, y) in [0,256)² plus passenger columns, yielding `d`
    * in [0, 65536). Shared by the declared query and the spec's
    * bijection/adjacency checks. */
  private[graft] def hilbertKey(df: DataFrame, passengers: Seq[String]): DataFrame = {
    val start = df.selectExpr(passengers ++ Seq("x", "y", "CAST(0 AS BIGINT) AS d"): _*)
    hilbertScales.foldLeft(start) { (acc, s) =>
      val (nx, ny, nd) = hilbertStage(s)
      acc.selectExpr(passengers ++ Seq(s"$nx AS x", s"$ny AS y", s"$nd AS d"): _*)
    }
  }

  /** Hilbert-curve layout keys — q_zorder's stronger sibling: bucket
    * the same two dimensions to 8 bits each, map through the 8-level
    * Hilbert transform, and summarize the 64-block layout. Why a
    * second space-filling curve: Morton keys jump at quadrant
    * boundaries, Hilbert's successive cells are always GRID-ADJACENT
    * (spec-pinned over the full domain), so range predicates on
    * either dimension touch fewer, more contiguous file ranges — the
    * layout Delta/Iceberg reach for when Z-order clustering still
    * splits hot ranges. Pure per-row integer expressions (generated
    * once, run textually identically on both engines), one shuffle
    * on the 64-value block key. */
  def qHilbert(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("value"),
        pmod(col("user_id"), lit(256L)).as("x"),
        pmod(col("event_id"), lit(256L)).as("y"))
    hilbertKey(ev, Seq("value"))
      .withColumn("block", shiftright(col("d"), 10))
      .groupBy(col("block"))
      .agg(count(lit(1)).as("n"),
        min(col("d")).as("min_h"),
        max(col("d")).as("max_h"),
        dsum(col("value")).as("sum_value"))
  }

  val qHilbertSql: String = {
    val stages = hilbertScales.zipWithIndex.map { case (s, i) =>
      val (nx, ny, nd) = hilbertStage(s)
      s"""h${i + 1} AS (
         |  SELECT value, $nx AS x, $ny AS y, $nd AS d FROM h$i)"""
    }.mkString(",\n")
    s"""WITH h0 AS (
       |  SELECT value,
       |    ((user_id % 256) + 256) % 256 AS x,
       |    ((event_id % 256) + 256) % 256 AS y,
       |    CAST(0 AS BIGINT) AS d
       |  FROM events),
       |$stages
       |SELECT d >> 10 AS block, COUNT(*) AS n,
       |  MIN(d) AS min_h, MAX(d) AS max_h,
       |  ${dsumSql("value")} AS sum_value
       |FROM h8 GROUP BY 1""".stripMargin
  }

  /** Per-group ordinary least squares (closed form): fit
    * `value ~ epoch_day(ts)` per event type from the same one-pass
    * sufficient statistics as [[qCorrStats]] — the trend-fitting step
    * the reference runs per pixel/band over time (harmonic/linear
    * fits on composite series). slope, intercept and R² derive from
    * (n, Σx, Σy, Σx², Σy², Σxy) by a FIXED IEEE sequence written
    * identically in the oracle; integer x keeps Σx/Σx² exact
    * (products taken in double to dodge 64-bit overflow at large SF —
    * same doubles both engines), [[Exact.dsum]] keeps the y-sums
    * order-independent. One shuffle on event_type, map-side partials
    * do the heavy lifting — the 100 TB shape for grouped regression.
    * Degenerate groups (constant x or y) → NULL, guarded on the same
    * comparison both engines. */
  def qOlsByGroup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("event_type"),
      datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))).cast("long").as("x"),
      col("value").as("y"))
    val s = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      dsum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      dsum(col("y") * col("y")).as("syy"),
      dsum(col("y") * col("x")).as("sxy"))
    val dn = col("n").cast("double")
    val dsx = col("sx").cast("double")
    val dsxx = col("sxx").cast("double")
    val num = dn * col("sxy") - dsx * col("sy")
    val den = dn * dsxx - dsx * dsx
    val denY = dn * col("syy") - col("sy") * col("sy")
    s.withColumn("slope", when(den > 0, num / den).otherwise(lit(null).cast("double")))
      .withColumn("intercept",
        when(den > 0, (col("sy") - (num / den) * dsx) / dn)
          .otherwise(lit(null).cast("double")))
      .withColumn("r2",
        when(den > 0 && denY > 0, num * num / (den * denY))
          .otherwise(lit(null).cast("double")))
      .select("event_type", "n", "slope", "intercept", "r2")
  }

  val qOlsByGroupSql: String =
    """WITH s AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(x) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
      |    SUM(x * x) AS sxx,
      |    CAST(SUM(CAST(y * y AS DECIMAL(25,6))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(y * x AS DECIMAL(25,6))) AS DOUBLE) AS sxy
      |  FROM (SELECT event_type,
      |          CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
      |          value AS y
      |        FROM events)
      |  GROUP BY event_type),
      |d AS (
      |  SELECT event_type, n,
      |    CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS num,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
      |    CAST(n AS DOUBLE) * syy - sy * sy AS den_y,
      |    CAST(sx AS DOUBLE) AS dsx, sy, CAST(n AS DOUBLE) AS dn
      |  FROM s)
      |SELECT event_type, n,
      |  CASE WHEN den > 0 THEN num / den ELSE NULL END AS slope,
      |  CASE WHEN den > 0 THEN (sy - (num / den) * dsx) / dn ELSE NULL END AS intercept,
      |  CASE WHEN den > 0 AND den_y > 0 THEN num * num / (den * den_y)
      |       ELSE NULL END AS r2
      |FROM d""".stripMargin

  /** Exact one-vs-rest ROC AUC per event type via the Mann–Whitney
    * rank-sum identity — the model-eval metric the probe loop
    * (q_eval_metrics family) was missing. score = value, positives =
    * the class's rows. Global ranks come from
    * [[graft.operators.ScaleOps.globalRank]] — range-partition +
    * zipWithIndex partition offsets, NEVER a partition-less window
    * (the q_shuffle_rank discipline: a global `Window.orderBy` is the
    * one-task funnel that dies at 100 TB). Ties in `value` break on
    * event_id, making the rank — and therefore this AUC variant —
    * fully deterministic on both engines (documented: tie-broken,
    * not midrank-averaged; with ~continuous scores the two agree to
    * O(ties/n²)). Everything stays integer until one fixed IEEE
    * sequence per class. */
  def qAuc(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val ranked = graft.operators.ScaleOps.globalRank(
      ev, Seq(col("value"), col("event_id")), "rk")
    val tot = ranked.agg(count(lit(1)).as("n_all"))
    val dpos = col("n_pos").cast("double")
    val dneg = col("n_neg").cast("double")
    ranked.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pos"), sum(col("rk")).as("rank_sum"))
      .crossJoin(broadcast(tot))
      .withColumn("n_neg", col("n_all") - col("n_pos"))
      .withColumn("auc",
        (col("rank_sum").cast("double") - dpos * (dpos + lit(1.0)) / lit(2.0))
          / (dpos * dneg))
      .select("event_type", "n_pos", "n_neg", "rank_sum", "auc")
  }

  val qAucSql: String =
    """WITH r AS (
      |  SELECT event_type,
      |    ROW_NUMBER() OVER (ORDER BY value, event_id) AS rk
      |  FROM events),
      |tot AS (SELECT COUNT(*) AS n_all FROM r),
      |g AS (
      |  SELECT event_type, COUNT(*) AS n_pos,
      |    CAST(SUM(rk) AS BIGINT) AS rank_sum
      |  FROM r GROUP BY event_type)
      |SELECT event_type, n_pos, n_all - n_pos AS n_neg, rank_sum,
      |  (CAST(rank_sum AS DOUBLE)
      |     - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
      |    / (CAST(n_pos AS DOUBLE) * CAST(n_all - n_pos AS DOUBLE)) AS auc
      |FROM g CROSS JOIN tot""".stripMargin

  /** Equi-depth (equal-count) binning of the value column into 8
    * buckets — the quantile-binning step feature pipelines run
    * before discretization, and the statistics a layout optimizer
    * uses for range pruning. NTILE is the textbook spelling but
    * plans as a partition-less window (the one-task funnel); the
    * engine instead assigns global ranks via
    * [[graft.operators.ScaleOps.globalRank]] (range-partition +
    * partition offsets) and derives the bucket as integer
    * (rank−1)·8 div n — bit-identical to the oracle's ROW_NUMBER
    * formulation and exactly NTILE's split (the first n mod 8
    * buckets get the extra row). All integers until none: min/max
    * per bucket are raw column values. */
  def qEquidepth(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_id"), col("value"))
    val ranked = graft.operators.ScaleOps.globalRank(
      ev, Seq(col("value"), col("event_id")), "rk")
    val tot = ranked.agg(count(lit(1)).as("n_all"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("bucket", expr("((rk - 1) * 8) div n_all"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))
  }

  val qEquidepthSql: String =
    """WITH r AS (
      |  SELECT value,
      |    ROW_NUMBER() OVER (ORDER BY value, event_id) AS rk
      |  FROM events),
      |tot AS (SELECT COUNT(*) AS n_all FROM r)
      |SELECT ((rk - 1) * 8) // n_all AS bucket, COUNT(*) AS n,
      |  MIN(value) AS min_v, MAX(value) AS max_v
      |FROM r CROSS JOIN tot
      |GROUP BY 1""".stripMargin

  /** Pearson chi-squared independence statistic over the
    * event_type × (user_id mod 4) contingency table — the categorical
    * association test a feature-selection pass runs before training
    * (the reference's class-balance checks, cropharvest_eval.py:
    * 286-293, are the same contingency arithmetic). One keyed
    * aggregation builds the cells; row/column marginals are two more
    * tiny aggregations broadcast back; each cell's (o−e)²/e is a
    * per-row computed double (bit-exact across engines) and the final
    * sum floor-quantizes (cells are few, but partition order still
    * varies). dof comes from the observed marginal cardinalities. */
  def qChi2(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), pmod(col("user_id"), lit(4)).cast("int").as("bucket"))
    val cells = ev.groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("o"))
    // row/column/grand totals are marginals of the contingency cells
    // (r19 opt) — one corpus-sized aggregation instead of four; exact
    // integer sums either way
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
        qsum(col("term")).as("chi2"),
        ((countDistinct(col("event_type")) - 1) *
         (countDistinct(col("bucket")) - 1)).as("dof"),
        first(col("n")).as("n"))
  }

  val qChi2Sql: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(((user_id % 4) + 4) % 4 AS INT) AS bucket FROM events),
       |cells AS (SELECT event_type, bucket, COUNT(*) AS o FROM ev GROUP BY 1, 2),
       |rt AS (SELECT event_type, COUNT(*) AS rt FROM ev GROUP BY 1),
       |ct AS (SELECT bucket, COUNT(*) AS ct FROM ev GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS n FROM ev),
       |terms AS (
       |  SELECT c.event_type, c.bucket, c.o, t.n,
       |    (CAST(c.o AS DOUBLE)
       |       - CAST(r.rt AS DOUBLE) * CAST(col.ct AS DOUBLE) / CAST(t.n AS DOUBLE))
       |    * (CAST(c.o AS DOUBLE)
       |       - CAST(r.rt AS DOUBLE) * CAST(col.ct AS DOUBLE) / CAST(t.n AS DOUBLE))
       |    / (CAST(r.rt AS DOUBLE) * CAST(col.ct AS DOUBLE) / CAST(t.n AS DOUBLE))
       |      AS term
       |  FROM cells c JOIN rt r ON c.event_type = r.event_type
       |  JOIN ct col ON c.bucket = col.bucket
       |  CROSS JOIN tot t)
       |SELECT ${qsumSql("term")} AS chi2,
       |  CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT bucket) - 1) AS BIGINT)
       |    AS dof,
       |  CAST(ANY_VALUE(n) AS BIGINT) AS n
       |FROM terms""".stripMargin

  /** Median-absolute-deviation robust outlier scan — the robust
    * counterpart of q_anomaly_zscore: mean/std move with the outliers
    * they're meant to find; the median and MAD don't (50% breakdown).
    * Per event_type: med = exact median, MAD = exact median of
    * |x − med|, outlier ⇔ |x − med| > 5·MAD. Two keyed aggregation
    * passes plus a broadcast join back — at scale each pass swaps to
    * the KLL sketch (q_quantile_sketch) without changing the plan
    * shape. Degenerate MAD = 0 groups gate the ratio behind a CASE so
    * no NaN/Inf crosses an engine boundary. */
  def qMadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(percentile(col("dev"), lit(0.5)).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .withColumn("ratio",
        when(col("mad") > 0.0, col("dev") / col("mad")).otherwise(lit(0.0)))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(col("ratio") > 5.0, 1L).otherwise(0L)).as("n_outliers"),
        max(col("ratio")).as("max_ratio"))
  }

  val qMadOutliersSql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY 1),
      |dev AS (
      |  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS dev
      |  FROM events e JOIN med m ON e.event_type = m.event_type),
      |mad AS (
      |  SELECT event_type, quantile_cont(dev, 0.5) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type, COUNT(*) AS n,
      |  ANY_VALUE(d.med) AS med, ANY_VALUE(a.mad) AS mad,
      |  CAST(SUM(CASE WHEN (CASE WHEN a.mad > 0.0 THEN d.dev / a.mad ELSE 0.0 END) > 5.0
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  MAX(CASE WHEN a.mad > 0.0 THEN d.dev / a.mad ELSE 0.0 END) AS max_ratio
      |FROM dev d JOIN mad a ON d.event_type = a.event_type
      |GROUP BY d.event_type""".stripMargin

  /** Two-sample Kolmogorov–Smirnov statistic (click vs purchase value
    * distributions) — the distribution-drift gate a data pipeline
    * runs between corpus vintages before retraining. D = max over the
    * merged order of |F̂₁ − F̂₂|, computed EXACTLY in integers:
    * |i₁·n₂ − i₂·n₁| at each merged position, one final divide by
    * n₁·n₂. No partition-less window anywhere: the merged rank and
    * both per-sample ranks come from [[graft.operators.ScaleOps
    * .globalRank]] (range-partition + zipWithIndex), so the CDF walk
    * distributes — the per-sample rank of a row and its merged rank
    * give the other sample's prefix count by subtraction. Ties
    * across samples break by (value, sample, event_id) — the step
    * function is evaluated at every merged position, which equals
    * the classic statistic when no cross-sample value ties exist. */
  def qKsTest(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ScaleOps
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("value"),
        when(col("event_type") === "click", 0).otherwise(1).as("s"))
    def sortCols = Seq(col("value"), col("s"), col("event_id"))
    // fused dual rank (r19 opt): r and the within-sample rs come from
    // ONE range-partitioned sort (ScaleOps.globalRankDual) instead of
    // three globalRank passes re-joined on event_id — two shuffles and
    // a sort-merge join gone, same ROW_NUMBER semantics (oracle
    // unchanged)
    val ranked = ScaleOps.globalRankDual(ev, sortCols, "s", "r", "rs")
    val n = ev.groupBy().agg(
      sum(when(col("s") === 0, 1L).otherwise(0L)).as("n1"),
      sum(when(col("s") === 1, 1L).otherwise(0L)).as("n2"))
    ranked
      .crossJoin(broadcast(n))
      .withColumn("i1", when(col("s") === 0, col("rs")).otherwise(col("r") - col("rs")))
      .withColumn("i2", col("r") - col("i1"))
      .withColumn("d_num", abs(col("i1") * col("n2") - col("i2") * col("n1")))
      .groupBy()
      .agg(first(col("n1")).as("n1"), first(col("n2")).as("n2"),
        max(col("d_num")).as("ks_num"))
      .withColumn("ks",
        col("ks_num").cast("double") / (col("n1") * col("n2")).cast("double"))
  }

  val qKsTestSql: String =
    """WITH ev AS (
      |  SELECT event_id, value,
      |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS s
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |m AS (
      |  SELECT event_id, s,
      |    ROW_NUMBER() OVER (ORDER BY value, s, event_id) AS r,
      |    ROW_NUMBER() OVER (PARTITION BY s ORDER BY value, s, event_id) AS rs
      |  FROM ev),
      |n AS (
      |  SELECT SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS n1,
      |         SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n2
      |  FROM ev),
      |d AS (
      |  SELECT n.n1, n.n2,
      |    abs((CASE WHEN m.s = 0 THEN m.rs ELSE m.r - m.rs END) * n.n2
      |      - (m.r - (CASE WHEN m.s = 0 THEN m.rs ELSE m.r - m.rs END)) * n.n1)
      |      AS d_num
      |  FROM m CROSS JOIN n)
      |SELECT CAST(ANY_VALUE(n1) AS BIGINT) AS n1,
      |  CAST(ANY_VALUE(n2) AS BIGINT) AS n2,
      |  CAST(MAX(d_num) AS BIGINT) AS ks_num,
      |  CAST(CAST(MAX(d_num) AS BIGINT) AS DOUBLE)
      |    / CAST(CAST(ANY_VALUE(n1) AS BIGINT) * CAST(ANY_VALUE(n2) AS BIGINT) AS DOUBLE)
      |    AS ks
      |FROM d""".stripMargin

  /** Winsorized mean per event_type — the robust-aggregation member
    * between plain mean (outlier-hostage) and median (discards
    * magnitude): clamp to the exact [p05, p95] quantiles, then
    * aggregate the clamped values. Two passes: one exact-percentile
    * aggregation broadcast back, one clamp + quantized-mean pass.
    * The clamp is per-row least/greatest (bit-exact); the mean of
    * COMPUTED doubles floor-quantizes (the Exact.qmean rule). */
  def qWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val bounds = ev.groupBy(col("event_type")).agg(
      percentile(col("value"), lit(0.05)).as("p05"),
      percentile(col("value"), lit(0.95)).as("p95"))
    ev.join(broadcast(bounds), "event_type")
      .withColumn("w", least(greatest(col("value"), col("p05")), col("p95")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        first(col("p05")).as("p05"),
        first(col("p95")).as("p95"),
        qmean(col("w")).as("winsorized_mean"),
        qmean(col("value")).as("raw_mean"))
  }

  val qWinsorizeSql: String =
    s"""WITH bounds AS (
       |  SELECT event_type,
       |    quantile_cont(value, 0.05) AS p05,
       |    quantile_cont(value, 0.95) AS p95
       |  FROM events GROUP BY 1),
       |cl AS (
       |  SELECT e.event_type, e.value, b.p05, b.p95,
       |    least(greatest(e.value, b.p05), b.p95) AS w
       |  FROM events e JOIN bounds b ON e.event_type = b.event_type)
       |SELECT event_type, COUNT(*) AS n,
       |  ANY_VALUE(p05) AS p05, ANY_VALUE(p95) AS p95,
       |  ${qmeanSql("w")} AS winsorized_mean,
       |  ${qmeanSql("value")} AS raw_mean
       |FROM cl GROUP BY event_type""".stripMargin

  /** CUSUM change detection per user — running cumulative sum of
    * deviations from the corpus mean; a level shift in a user's
    * series shows as a large |cusum| excursion (the classic
    * change-point screen a monitoring pipeline runs per entity).
    * The corpus mean is ONE broadcast scalar (exact decimal mean);
    * the running sum is a user-keyed ordered window over
    * floor-quantized deviations — longs, so the prefix sums are
    * exact and partition-order-proof. Output per user: the extreme
    * excursions and their range, de-quantized once. */
  def qCusum(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val mu = ev.agg(dmean(col("value")).as("mu"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.crossJoin(broadcast(mu))
      .withColumn("devq", floor((col("value") - col("mu")) * lit(1000000.0)).cast("long"))
      .withColumn("cusumq", sum(col("devq")).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        (max(col("cusumq")).cast("double") / lit(1e6)).as("max_cusum"),
        (min(col("cusumq")).cast("double") / lit(1e6)).as("min_cusum"),
        ((max(col("cusumq")) - min(col("cusumq"))).cast("double") / lit(1e6))
          .as("cusum_range"))
  }

  val qCusumSql: String =
    s"""WITH mu AS (SELECT ${dmeanSql("value")} AS mu FROM events),
       |c AS (
       |  SELECT e.user_id,
       |    SUM(CAST(FLOOR((e.value - m.mu) * 1000000.0) AS BIGINT))
       |      OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusumq
       |  FROM events e CROSS JOIN mu m)
       |SELECT user_id, COUNT(*) AS n,
       |  CAST(MAX(cusumq) AS DOUBLE) / 1e6 AS max_cusum,
       |  CAST(MIN(cusumq) AS DOUBLE) / 1e6 AS min_cusum,
       |  CAST(MAX(cusumq) - MIN(cusumq) AS DOUBLE) / 1e6 AS cusum_range
       |FROM c GROUP BY user_id""".stripMargin

  /** Decision-tree split scoring — information gain of thresholding
    * `value` at each decile, predicting event_type: the inner loop of
    * tree induction (the reference's RF probes, eval/eval.py:191-211,
    * grow trees from exactly this statistic). One exact-percentile
    * aggregation yields the 9 candidate thresholds (a 9-row broadcast
    * fan-out, not a per-row candidate scan); one pass counts
    * (threshold, side, label) cells; entropies assemble from the
    * counts with quantized ln terms weighted by exact integer counts,
    * so the gain ranking is deterministic. Output: every candidate
    * with its gain, ordered columns — no argmax tie to break. */
  def qInfoGain(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val thresholds = ev.agg(
        percentile(col("value"), typedLit((1 to 9).map(_ / 10.0))).as("ts"))
      .select(posexplode(col("ts")).as(Seq("tidx", "thr")))
    val cells = ev.crossJoin(broadcast(thresholds))
      .withColumn("side", when(col("value") <= col("thr"), 0).otherwise(1))
      .groupBy(col("tidx"), col("thr"), col("side"), col("event_type"))
      .agg(count(lit(1)).as("nc"))
    val sideTot = cells.groupBy(col("tidx"), col("side"))
      .agg(sum(col("nc")).as("ns"))
    // every threshold partitions ev completely, so the per-class
    // counts and the row total are marginals of any one tidx slice of
    // cells (r19 opt) — two fewer corpus-sized aggregations; exact
    // integers either way
    val tidx0 = cells.filter(col("tidx") === 0)
    val nRow = tidx0.agg(sum(col("nc")).as("n"))
    // parent entropy term: -sum_c n_c * lnq(n_c / n)  (threshold-free)
    val parentQ = tidx0.groupBy(col("event_type")).agg(sum(col("nc")).as("nc"))
      .crossJoin(broadcast(nRow))
      .agg(sum(-col("nc") *
        floor(log(col("nc").cast("double") / col("n").cast("double")) * lit(1e9))
          .cast("long")).as("entpq"))
    cells.join(sideTot, Seq("tidx", "side"))
      .withColumn("termq",
        -col("nc") *
          floor(log(col("nc").cast("double") / col("ns").cast("double")) * lit(1e9))
            .cast("long"))
      .groupBy(col("tidx"), col("thr"))
      .agg(sum(col("termq")).as("entcq"),
        sum(when(col("side") === 0, col("nc")).otherwise(0L)).as("n_left"),
        sum(when(col("side") === 1, col("nc")).otherwise(0L)).as("n_right"))
      .crossJoin(broadcast(parentQ))
      .crossJoin(broadcast(nRow))
      .withColumn("gain",
        (col("entpq") - col("entcq")).cast("double") / col("n").cast("double") / lit(1e9))
      .select("tidx", "thr", "n_left", "n_right", "gain")
  }

  val qInfoGainSql: String =
    """WITH ev AS (SELECT event_type, value FROM events),
      |n AS (SELECT COUNT(*) AS n FROM ev),
      |thr AS (
      |  SELECT tidx, thr FROM (
      |    SELECT unnest(list_transform(range(9),
      |        i -> {'tidx': i, 'thr': qs[i + 1]}), recursive := true)
      |    FROM (SELECT quantile_cont(value,
      |        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs FROM ev))),
      |cells AS (
      |  SELECT t.tidx, t.thr,
      |    CASE WHEN e.value <= t.thr THEN 0 ELSE 1 END AS side,
      |    e.event_type, COUNT(*) AS nc
      |  FROM ev e CROSS JOIN thr t
      |  GROUP BY 1, 2, 3, 4),
      |stot AS (SELECT tidx, side, SUM(nc) AS ns FROM cells GROUP BY 1, 2),
      |parent AS (
      |  SELECT SUM(-nc * CAST(FLOOR(ln(CAST(nc AS DOUBLE)
      |      / CAST(nn.n AS DOUBLE)) * 1e9) AS BIGINT)) AS entpq
      |  FROM (SELECT event_type, COUNT(*) AS nc FROM ev GROUP BY 1)
      |  CROSS JOIN n nn),
      |child AS (
      |  SELECT c.tidx, c.thr,
      |    SUM(-c.nc * CAST(FLOOR(ln(CAST(c.nc AS DOUBLE)
      |        / CAST(s.ns AS DOUBLE)) * 1e9) AS BIGINT)) AS entcq,
      |    CAST(SUM(CASE WHEN c.side = 0 THEN c.nc ELSE 0 END) AS BIGINT) AS n_left,
      |    CAST(SUM(CASE WHEN c.side = 1 THEN c.nc ELSE 0 END) AS BIGINT) AS n_right
      |  FROM cells c JOIN stot s ON c.tidx = s.tidx AND c.side = s.side
      |  GROUP BY 1, 2)
      |SELECT CAST(ch.tidx AS INT) AS tidx, ch.thr, ch.n_left, ch.n_right,
      |  CAST(p.entpq - ch.entcq AS DOUBLE) / CAST(nn.n AS DOUBLE) / 1e9 AS gain
      |FROM child ch CROSS JOIN parent p CROSS JOIN n nn""".stripMargin

  /** Deterministic A/B experiment readout with the Welch t statistic —
    * the experimentation-analytics shape: arm assignment is a pure
    * hash of the unit id (md5 first hex digit < '8' → arm A, the
    * q_data_mixture acceptance idiom — reproducible under any
    * partitioning, no RNG state), the outcome is the purchase value,
    * and the readout is one conditional-aggregation pass producing
    * both arms' sufficient statistics, then the fixed IEEE sequence
    * for Welch's t and its Satterthwaite df. Population variance from
    * exact decimal sums (the qCorrStats rule). One shuffle, two
    * accumulator sets. */
  def qAbTest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("armA",
        substring(md5(col("user_id").cast("string")), 1, 1) < "8")
    val agg = ev.agg(
      sum(when(col("armA"), 1L).otherwise(0L)).as("na"),
      sum(when(!col("armA"), 1L).otherwise(0L)).as("nb"),
      sum(when(col("armA"), col("value").cast(Dec))).cast("double").as("sa"),
      sum(when(!col("armA"), col("value").cast(Dec))).cast("double").as("sb"),
      sum(when(col("armA"), (col("value") * col("value")).cast(Dec)))
        .cast("double").as("sxa"),
      sum(when(!col("armA"), (col("value") * col("value")).cast(Dec)))
        .cast("double").as("sxb"))
    agg
      .withColumn("mean_a", col("sa") / col("na"))
      .withColumn("mean_b", col("sb") / col("nb"))
      .withColumn("var_a",
        (col("sxa") / col("na") - col("mean_a") * col("mean_a")) *
          (col("na").cast("double") / (col("na") - 1).cast("double")))
      .withColumn("var_b",
        (col("sxb") / col("nb") - col("mean_b") * col("mean_b")) *
          (col("nb").cast("double") / (col("nb") - 1).cast("double")))
      .withColumn("se2",
        col("var_a") / col("na").cast("double") + col("var_b") / col("nb").cast("double"))
      .withColumn("t", (col("mean_a") - col("mean_b")) / sqrt(col("se2")))
      .withColumn("df",
        col("se2") * col("se2") /
          ((col("var_a") / col("na").cast("double")) * (col("var_a") / col("na").cast("double")) /
             (col("na") - 1).cast("double") +
           (col("var_b") / col("nb").cast("double")) * (col("var_b") / col("nb").cast("double")) /
             (col("nb") - 1).cast("double")))
      .select("na", "nb", "mean_a", "mean_b", "var_a", "var_b", "t", "df")
  }

  val qAbTestSql: String =
    """WITH s AS (
      |  SELECT
      |    SUM(CASE WHEN arma THEN 1 ELSE 0 END) AS na,
      |    SUM(CASE WHEN NOT arma THEN 1 ELSE 0 END) AS nb,
      |    CAST(SUM(CASE WHEN arma THEN CAST(value AS DECIMAL(25,6)) END) AS DOUBLE) AS sa,
      |    CAST(SUM(CASE WHEN NOT arma THEN CAST(value AS DECIMAL(25,6)) END) AS DOUBLE) AS sb,
      |    CAST(SUM(CASE WHEN arma THEN CAST(value * value AS DECIMAL(25,6)) END) AS DOUBLE) AS sxa,
      |    CAST(SUM(CASE WHEN NOT arma THEN CAST(value * value AS DECIMAL(25,6)) END) AS DOUBLE) AS sxb
      |  FROM (
      |    SELECT value,
      |      substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS arma
      |    FROM events WHERE event_type = 'purchase')),
      |m AS (
      |  SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
      |    sa / na AS mean_a, sb / nb AS mean_b,
      |    (sxa / na - (sa / na) * (sa / na))
      |      * (CAST(na AS DOUBLE) / CAST(na - 1 AS DOUBLE)) AS var_a,
      |    (sxb / nb - (sb / nb) * (sb / nb))
      |      * (CAST(nb AS DOUBLE) / CAST(nb - 1 AS DOUBLE)) AS var_b
      |  FROM s),
      |e AS (
      |  SELECT *, var_a / CAST(na AS DOUBLE) + var_b / CAST(nb AS DOUBLE) AS se2
      |  FROM m)
      |SELECT na, nb, mean_a, mean_b, var_a, var_b,
      |  (mean_a - mean_b) / sqrt(se2) AS t,
      |  se2 * se2 /
      |    ((var_a / CAST(na AS DOUBLE)) * (var_a / CAST(na AS DOUBLE))
      |       / CAST(na - 1 AS DOUBLE)
      |     + (var_b / CAST(nb AS DOUBLE)) * (var_b / CAST(nb AS DOUBLE))
      |       / CAST(nb - 1 AS DOUBLE)) AS df
      |FROM e""".stripMargin

  /** Audience-overlap matrix — exact Jaccard between event-type user
    * audiences (the cross-channel overlap report; at 100 TB the exact
    * per-pair intersect swaps to theta/HLL sketches with the same
    * output shape): distinct (type, user) pairs once, pair
    * intersections via ONE user-keyed self-join, sizes joined back
    * broadcast, single-division Jaccard. */
  def qAudienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // materialize the distinct audience once (r19 opt): the sizes leg
    // and both sides of the broadcast self-join would each re-run the
    // events DISTINCT (broadcast exchanges are not runtime-reusable)
    val aud = graft.operators.ScaleOps.materializeOnce(
      Tables.events(spark, dir)
        .select(col("event_type"), col("user_id")).distinct())
    val sizes = aud.groupBy(col("event_type")).agg(count(lit(1)).as("sz"))
    aud.as("x").join(aud.as("y"),
        col("x.user_id") === col("y.user_id") &&
        col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("sz").as("na"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("sz").as("nb"))), "type_b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .select("type_a", "type_b", "inter", "na", "nb", "jaccard")
  }

  val qAudienceOverlapSql: String =
    """WITH aud AS (SELECT DISTINCT event_type, user_id FROM events),
      |sizes AS (SELECT event_type, COUNT(*) AS sz FROM aud GROUP BY 1),
      |inter AS (
      |  SELECT x.event_type AS type_a, y.event_type AS type_b, COUNT(*) AS inter
      |  FROM aud x JOIN aud y
      |    ON x.user_id = y.user_id AND x.event_type < y.event_type
      |  GROUP BY 1, 2)
      |SELECT i.type_a, i.type_b, i.inter,
      |  CAST(sa.sz AS BIGINT) AS na, CAST(sb.sz AS BIGINT) AS nb,
      |  CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) AS jaccard
      |FROM inter i
      |JOIN sizes sa ON sa.event_type = i.type_a
      |JOIN sizes sb ON sb.event_type = i.type_b""".stripMargin

  /** Quadkey tile pyramid — the multi-resolution rollup a tile server
    * precomputes: the 16-bit Morton key (the [[qZorder]] layout key)
    * aggregated at four zoom levels by PREFIX truncation (level l =
    * top 2l bits = the enclosing quadtree cell), fanned out by one
    * 4-row generator so the events scan runs once. The same shape as
    * rollup, but on the spatial hierarchy the interleaved key encodes
    * — range-pruning a tile at any level is a contiguous zkey range. */
  def qQuadPyramid(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("xb", pmod(col("user_id"), lit(256L)))
      .withColumn("yb", pmod(col("event_id"), lit(256L)))
      .withColumn("zkey", morton8(col("xb"), col("yb")))
    ev.select(col("value"), expr(
        """stack(4,
          |  1, zkey >> 14,
          |  2, zkey >> 12,
          |  3, zkey >> 10,
          |  4, zkey >> 8)""".stripMargin).as(Seq("zoom", "cell")))
      .groupBy(col("zoom"), col("cell"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
  }

  val qQuadPyramidSql: String = {
    val interleave = (0 until 8).map { i =>
      s"(((xb >> $i) & 1) << ${2 * i}) + (((yb >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    s"""WITH b AS (
       |  SELECT value,
       |    ((user_id % 256) + 256) % 256 AS xb,
       |    ((event_id % 256) + 256) % 256 AS yb
       |  FROM events),
       |z AS (SELECT value, ($interleave) AS zkey FROM b),
       |lv AS (
       |  SELECT value, lvl.zoom,
       |    CASE lvl.zoom WHEN 1 THEN zkey >> 14 WHEN 2 THEN zkey >> 12
       |                  WHEN 3 THEN zkey >> 10 ELSE zkey >> 8 END AS cell
       |  FROM z CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS zoom) lvl)
       |SELECT zoom, cell, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM lv GROUP BY zoom, cell""".stripMargin
  }

  /** KMV (k-minimum-values / theta) sketch union estimates, graded by
    * the q_distinct_approx verdict pattern: each event-type audience
    * keeps only its k = 64 smallest hash values (mergeable: the union
    * sketch is the k smallest of the combined sets — the theta-sketch
    * set-operation tier the exact q_audience_overlap pre-computed
    * truth for). The estimate (k−1)/u_k is deterministic given the
    * hashes but engine-specific (DuckDB has no xxhash64), so the
    * GRADED columns are the exact union cardinalities plus the
    * within-bound verdicts — est must land within 4× the sketch's
    * 1/√(k−2) relative standard error; a broken sketch lands far
    * outside. Per-pair windows are keyed and bounded; at corpus scale
    * the k-smallest per key comes from the same TakeOrdered pattern. */
  def qKmvSketch(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val bound = 4.0 / math.sqrt(k - 2.0) // 4x RSE ≈ 0.508
    val aud = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("u",
        xxhash64(col("user_id").cast("string")).cast("double") /
          lit(1.8446744073709552e19) + lit(0.5))
    val types = aud.select(col("event_type")).distinct()
    val pairs = types.as("x").join(types.as("y"),
        col("x.event_type") < col("y.event_type"))
      .select(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
    val pairRows = aud.join(broadcast(pairs),
        col("event_type") === col("type_a") || col("event_type") === col("type_b"))
      .select(col("type_a"), col("type_b"), col("user_id"), col("u"))
      .distinct()
    val wPair = Window.partitionBy(col("type_a"), col("type_b")).orderBy(col("u").asc)
    val est = pairRows
      .withColumn("rk", row_number().over(wPair))
      .filter(col("rk") === k)
      .select(col("type_a"), col("type_b"),
        (lit((k - 1).toDouble) / col("u")).as("est_union"))
    val exact = pairRows.groupBy(col("type_a"), col("type_b"))
      .agg(countDistinct(col("user_id")).as("exact_union"))
    exact.join(est, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"), col("exact_union"),
        // small unions (< k) have no k-th value: the sketch is exact there
        when(col("est_union").isNull, lit(true))
          .otherwise(abs(col("est_union") - col("exact_union").cast("double")) <=
            lit(bound) * col("exact_union").cast("double"))
          .as("union_within_bound"))
  }

  val qKmvSketchSql: String =
    """WITH aud AS (SELECT DISTINCT event_type, user_id FROM events),
      |types AS (SELECT DISTINCT event_type FROM aud),
      |pairs AS (
      |  SELECT x.event_type AS type_a, y.event_type AS type_b
      |  FROM types x JOIN types y ON x.event_type < y.event_type)
      |SELECT p.type_a, p.type_b,
      |  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS exact_union,
      |  TRUE AS union_within_bound
      |FROM pairs p JOIN aud a
      |  ON a.event_type = p.type_a OR a.event_type = p.type_b
      |GROUP BY p.type_a, p.type_b""".stripMargin

  /** 2-D histogram (heat-map binning): value-band × hour-of-day cell
    * counts + exact sums — the density readout behind every activity
    * heat map; one scan, one keyed aggregation on the cell. */
  def qHistogram2d(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("vb", floor(col("value") / 50.0).cast("long"))
      .withColumn("hb", hour(col("ts")).cast("int"))
      .groupBy(col("vb"), col("hb"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
  }

  val qHistogram2dSql: String =
    s"""SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS vb,
       |  CAST(hour(ts) AS INT) AS hb,
       |  COUNT(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1, 2""".stripMargin

  /** Cohort lifetime value — q_retention's revenue dual: users cohort
    * by first-seen week, purchase revenue accumulates per
    * (cohort, weeks-since) cell, and a cohort-keyed running window
    * turns the increments into the cumulative LTV curve. Exact
    * decimal sums; the running cumulative re-quantizes per cell so
    * window order cannot drift a ulp. */
  def qLtvCohort(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("w",
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7 AS BIGINT)"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("w")).as("w0"))
    val inc = ev.filter(col("event_type") === "purchase")
      .join(cohort, "user_id")
      .groupBy(col("w0").as("cohort_week"), (col("w") - col("w0")).as("weeks_since"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast(Dec)).as("revdec"))
    val run = Window.partitionBy(col("cohort_week")).orderBy(col("weeks_since"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inc
      .withColumn("cum_revenue", sum(col("revdec")).over(run).cast("double"))
      .select(col("cohort_week"), col("weeks_since"), col("n_purchases"),
        col("revdec").cast("double").as("revenue"), col("cum_revenue"))
  }

  val qLtvCohortSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, value,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS w
      |  FROM events),
      |cohort AS (SELECT user_id, MIN(w) AS w0 FROM ev GROUP BY 1),
      |inc AS (
      |  SELECT c.w0 AS cohort_week, e.w - c.w0 AS weeks_since,
      |    COUNT(*) AS n_purchases,
      |    SUM(CAST(e.value AS DECIMAL(25,6))) AS revdec
      |  FROM ev e JOIN cohort c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY 1, 2)
      |SELECT cohort_week, weeks_since, n_purchases,
      |  CAST(revdec AS DOUBLE) AS revenue,
      |  CAST(SUM(revdec) OVER (PARTITION BY cohort_week ORDER BY weeks_since
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS cum_revenue
      |FROM inc""".stripMargin

  /** Peak concurrency by interval sweep — "how many sessions were
    * open at once, and when": the classic +1/−1 boundary sweep, made
    * distributed with the q_ks_test rank identity instead of a
    * partition-less running sum. Session boundaries merge into one
    * total order (t, kind, user, session); at a START boundary the
    * number of open sessions is (#starts ≤ here) − (#ends before
    * here) = 2·r_starts − r_merged — three [[graft.operators
    * .ScaleOps.globalRank]] passes (range-partition + zipWithIndex),
    * pure integer arithmetic, no window anywhere. Ends sort after
    * starts at equal timestamps, so back-to-back sessions touching at
    * a boundary count as concurrent (closed-interval convention,
    * stated identically in the oracle). Output: session count, the
    * peak, and the earliest time it is attained. */
  def qMaxConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ScaleOps
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // materialize the sessionization once (r19 opt): the two
    // globalRank passes, the boundary union, and the final session
    // count would otherwise each re-run the events window + groupBy —
    // the corpus-sized subtree — ~4×; the checkpointed session table
    // (one row per session) is the right cut point at any scale.
    val sess = graft.operators.ScaleOps.materializeOnce(
      Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("brk",
        when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 1800000L, 1)
        .otherwise(0))
      .withColumn("session_id", sum(col("brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(unix_micros(min(col("ts"))).as("st"), unix_micros(max(col("ts"))).as("en")))
    val pts = sess.select(col("st").as("t"), lit(0).as("kind"),
        col("user_id"), col("session_id"))
      .unionByName(sess.select(col("en").as("t"), lit(1).as("kind"),
        col("user_id"), col("session_id")))
    def sortCols = Seq(col("t"), col("kind"), col("user_id"), col("session_id"))
    // fused dual rank (r19 opt): the overall boundary rank r and the
    // rank among START boundaries rs come from ONE range-partitioned
    // sort (ScaleOps.globalRankDual, grouped on kind) instead of two
    // globalRank passes re-joined on (user, session) — one shuffle and
    // the join gone, same ROW_NUMBER semantics (oracle unchanged)
    val conc = ScaleOps.globalRankDual(pts, sortCols, "kind", "r", "rs")
      .filter(col("kind") === 0)
      .withColumn("open", lit(2L) * col("rs") - col("r"))
    val m = conc.agg(max(col("open")).as("peak"))
    conc.crossJoin(broadcast(m))
      .filter(col("open") === col("peak"))
      .agg(
        first(col("peak")).as("max_concurrency"),
        min(col("t")).as("at_us"))
      .crossJoin(broadcast(sess.agg(count(lit(1)).as("n_sessions"))))
      .select("n_sessions", "max_concurrency", "at_us")
  }

  val qMaxConcurrencySql: String =
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
      |    epoch_us(MIN(ts)) AS st, epoch_us(MAX(ts)) AS en
      |  FROM s GROUP BY 1, 2),
      |pts AS (
      |  SELECT st AS t, 0 AS kind, user_id, session_id FROM sess
      |  UNION ALL
      |  SELECT en AS t, 1 AS kind, user_id, session_id FROM sess),
      |ranked AS (
      |  SELECT t, kind, user_id, session_id,
      |    ROW_NUMBER() OVER (ORDER BY t, kind, user_id, session_id) AS r,
      |    ROW_NUMBER() OVER (PARTITION BY kind
      |      ORDER BY t, kind, user_id, session_id) AS rs
      |  FROM pts),
      |conc AS (
      |  SELECT t, 2 * rs - r AS open FROM ranked WHERE kind = 0),
      |peak AS (SELECT MAX(open) AS peak FROM conc)
      |SELECT (SELECT COUNT(*) FROM sess) AS n_sessions,
      |  CAST(ANY_VALUE(p.peak) AS BIGINT) AS max_concurrency,
      |  MIN(c.t) AS at_us
      |FROM conc c CROSS JOIN peak p
      |WHERE c.open = p.peak""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_max_concurrency" -> (qMaxConcurrency _),
    "q_kmv_sketch" -> (qKmvSketch _),
    "q_histogram_2d" -> (qHistogram2d _),
    "q_ltv_cohort" -> (qLtvCohort _),
    "q_ab_test" -> (qAbTest _),
    "q_audience_overlap" -> (qAudienceOverlap _),
    "q_quad_pyramid" -> (qQuadPyramid _),
    "q_winsorize" -> (qWinsorize _),
    "q_cusum" -> (qCusum _),
    "q_info_gain" -> (qInfoGain _),
    "q_ks_test" -> (qKsTest _),
    "q_chi2" -> (qChi2 _),
    "q_mad_outliers" -> (qMadOutliers _),
    "q_equidepth" -> (qEquidepth _),
    "q_corr_stats" -> (qCorrStats _),
    "q_anomaly_zscore" -> (qAnomalyZscore _),
    "q_zorder" -> (qZorder _),
    "q_hilbert" -> (qHilbert _),
    "q_ols_by_group" -> (qOlsByGroup _),
    "q_auc" -> (qAuc _),
  )

  val oracle: Map[String, String] = Map(
    "q_max_concurrency" -> qMaxConcurrencySql,
    "q_kmv_sketch" -> qKmvSketchSql,
    "q_histogram_2d" -> qHistogram2dSql,
    "q_ltv_cohort" -> qLtvCohortSql,
    "q_ab_test" -> qAbTestSql,
    "q_audience_overlap" -> qAudienceOverlapSql,
    "q_quad_pyramid" -> qQuadPyramidSql,
    "q_winsorize" -> qWinsorizeSql,
    "q_cusum" -> qCusumSql,
    "q_info_gain" -> qInfoGainSql,
    "q_ks_test" -> qKsTestSql,
    "q_chi2" -> qChi2Sql,
    "q_mad_outliers" -> qMadOutliersSql,
    "q_equidepth" -> qEquidepthSql,
    "q_corr_stats" -> qCorrStatsSql,
    "q_anomaly_zscore" -> qAnomalyZscoreSql,
    "q_zorder" -> qZorderSql,
    "q_hilbert" -> qHilbertSql,
    "q_ols_by_group" -> qOlsByGroupSql,
    "q_auc" -> qAucSql,
  )
}
