package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.PipelineOps
import graft.queries.Exact
import graft.queries.Exact._

/** ML-adjacent relational surface: KNN classification/regression and
  * evaluation metrics as SQL aggregations (SURVEY §2.9 probes +
  * metrics rows; eval/knn.py k∈{5,20,100} + regressor,
  * eval/treesat_eval.py confusion math).
  *
  * The KNN candidate plan is sign-LSH banded, not a cartesian: each
  * vector gets a corpus-scaled 6·w(n)-bit sign signature (signs of
  * the first 6·w embedding dims, w = clamp(⌈log₂ n⌉ − 7, 3, 10) —
  * see [[bandWidthFor]]); candidates are (val, train) pairs sharing
  * at least one of 6 uniform w-bit band buckets, then an exact
  * hamming filter and exact-cosine ranking among candidates. By
  * pigeonhole, a pair within hamming H cannot differ in all of H+1
  * (or more) bands, so the banded equi-join finds EVERY qualifying
  * pair — the DuckDB oracle brute-forces all pairs with the same
  * hamming filter over the same dynamic signature, so a green hash
  * proves the blocked plan complete (the q_simhash trick). All
  * k∈{5,20,100} share the hamming≤5 / 6-band radius; the candidate
  * pool bounds the effective k for k=100 (both engines
  * identically). Note the banded family is a
  * DIFFERENT estimator from sklearn-exact KNN: neighbours outside
  * the hamming ball are out of scope by definition, and a query
  * vector with zero candidates yields no prediction row —
  * [[qKnnExact]] keeps the reference-faithful exact semantics for
  * bounded eval sets. At 100 TB the banded family's only wide
  * shuffles key on (band, bucket) and on the candidate ids — no
  * |val|x|train| cartesian anywhere.
  */
object MlQueries {

  private val splitSpark = PipelineOps.hashSplitSql("cast(vec_id AS string)", 12)
  private val splitDuck = PipelineOps.hashSplitSql("cast(vec_id AS VARCHAR)", 12)
    .replace("instr(", "strpos(")

  /** Corpus-scaled band width w(n) = clamp(⌈log₂ n⌉ − 7, 3, 10): the
    * signature is 6 uniform bands of w bits (6w ≤ 60, one BIGINT).
    * The round-12 scale finding was exp 1.18 at the sf0.1→sf1 decade
    * because a FIXED 16-bit signature gives each band ≤8 buckets —
    * occupancy grows linearly with the corpus and banded candidates
    * quadratically. Scaling 2^w with n (the raise-k-with-n IVF
    * discipline) keeps per-band bucket occupancy ~flat; the hamming≤5
    * ball over the wider signature tightens as the corpus grows,
    * which is the right estimator behavior — with more data the k-th
    * neighbor is closer, so the candidate radius should shrink. The
    * pigeonhole completeness proof is width-independent (6 bands > 5
    * allowed diffs; PropertySpec re-proves it for every w in 3..10)
    * and the DuckDB oracle stays brute-force over the SAME dynamic
    * ball, so the banded plan is still proven complete, not sampled.
    * Thresholds are integer compares (n ≤ 2^(w+7)), NOT float log2:
    * Spark and DuckDB must pick the same w for the same corpus. */
  private[graft] def bandWidthFor(n: Long): Int =
    (3 to 9).find(w => n <= (1L << (w + 7))).getOrElse(10)

  /** The same rule as [[bandWidthFor]], as a SQL CASE over a column
    * `n` — ONE threshold table serves Scala, Spark SQL and DuckDB. */
  private[graft] val bandWidthCaseSql: String =
    "CASE " + (3 to 9).map(w => s"WHEN n <= ${1L << (w + 7)} THEN $w")
      .mkString(" ") + " ELSE 10 END"

  /** (band id, bit offset, width) uniform layout at width w — the
    * production bucket rule (band b = bits [b·w, (b+1)·w)) in the
    * form the completeness property test consumes. */
  private[graft] def bandDefs(w: Int): Seq[(Int, Int, Int)] =
    (0 until 6).map(b => (b, b * w, w))

  /** 6w-bit sign signature of the first 6·bw embedding dims (bw is
    * the corpus-scaled width column). */
  private val sigExpr =
    """aggregate(transform(sequence(0, 6 * bw - 1),
      |  i -> IF(element_at(embedding, i + 1) >= 0, shiftleft(1L, i), 0L)),
      |  0L, (a, b) -> a | b)""".stripMargin

  /** Uniform band explode at runtime width bw: band b keys on bits
    * [b·bw, (b+1)·bw) of the signature. */
  private val bandsExpr =
    """transform(sequence(0, 5), b -> named_struct(
      |  'band', b,
      |  'bucket', shiftright(sig, b * bw) & (shiftleft(1L, bw) - 1)))""".stripMargin

  /** Memoized corpus-size knob: the four banded KNN queries (and both
    * bench passes) would otherwise each launch an identical count job
    * at plan-construction time. Keyed on the data fingerprint (the
    * IndexStore discipline), so an in-place corpus rewrite still
    * re-resolves the width. */
  private val bandWidthMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()

  private def bandWidthOf(spark: SparkSession, dir: String): Int = {
    val key = dir + "|" + graft.operators.IndexStore.fingerprint(dir)
    bandWidthMemo.computeIfAbsent(key,
      _ => bandWidthFor(Tables.embeddings(spark, dir).count()))
  }

  /** Exact top-k (cosine desc, tid tie-break) among the banded
    * hamming≤maxHamming candidates, for the hash-val split vs the
    * hash-train split. Columns: vid, vlabel, tid, tlabel, cosine, rk.
    * The corpus-size knob w is resolved at plan-construction time
    * ([[bandWidthOf]]), so the executed plan is pure literals — a
    * broadcast 1-row crossJoin would read as a
    * BroadcastNestedLoopJoin in every plan audit and block
    * constant-folding of the signature width. */
  private def knnTopK(spark: SparkSession, dir: String, k: Int,
      maxHamming: Int = 5): DataFrame = {
    val e0 = Tables.embeddings(spark, dir)
    val e = e0
      .withColumn("bw", lit(bandWidthOf(spark, dir)))
      .withColumn("split", PipelineOps.hashSplit("cast(vec_id AS string)", 12))
      .withColumn("sig", expr(sigExpr))
    val train = e.filter(col("split") === "train")
      .select(col("vec_id").as("tid"), col("embedding").as("te"),
        col("label").as("tlabel"), col("sig").as("tsig"), col("bw"))
    val valid = e.filter(col("split") === "val")
      .select(col("vec_id").as("vid"), col("embedding").as("ve"),
        col("label").as("vlabel"), col("sig").as("vsig"), col("bw"))
    val tBands = train
      .select(col("tid"), explode(expr(bandsExpr.replace("sig", "tsig"))).as("bb"))
      .select(col("tid"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val vBands = valid
      .select(col("vid"), explode(expr(bandsExpr.replace("sig", "vsig"))).as("bb"))
      .select(col("vid"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // The LSH shuffle: equi-join on (band, bucket). Both sides scale
    // with the corpus; no broadcast of corpus data, no cartesian.
    val cand = tBands.join(vBands, Seq("band", "bucket"))
      .select("vid", "tid").distinct()
    val wTop = Window.partitionBy(col("vid")).orderBy(col("cosine").desc, col("tid"))
    cand.join(valid.drop("bw"), "vid").join(train.drop("bw"), "tid")
      .filter(expr("bit_count(vsig ^ tsig)") <= maxHamming)
      .withColumn("cosine", expr("cosine_sim(ve, te)"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
  }

  /** Majority-vote confusion matrix at a given k; vote ties break on
    * the smaller label (eval/knn.py KNeighborsClassifier analog). */
  private def knnConfusion(spark: SparkSession, dir: String,
      k: Int): DataFrame = {
    val wVote = Window.partitionBy(col("vid"))
      .orderBy(col("votes").desc, col("tlabel"))
    knnTopK(spark, dir, k)
      .groupBy(col("vid"), col("vlabel"), col("tlabel"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vrk", row_number().over(wVote))
      .filter(col("vrk") === 1)
      .groupBy(col("vlabel").as("label"), col("tlabel").as("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  // The *_banded names say what the estimator IS: a KNN vote over the
  // hamming≤5 LSH ball, NOT sklearn-exact k=20/100 (the candidate pool
  // bounds the effective k) — the q_knn_k*_exact family below carries
  // the sklearn-comparable numbers, so metric consumers can't confuse
  // the two.
  def qKnnClassify(spark: SparkSession, dir: String): DataFrame =
    knnConfusion(spark, dir, 5)
  def qKnnK20Banded(spark: SparkSession, dir: String): DataFrame =
    knnConfusion(spark, dir, 20)
  def qKnnK100Banded(spark: SparkSession, dir: String): DataFrame =
    knnConfusion(spark, dir, 100)

  /** KNN regression (eval/knn.py KNeighborsRegressor analog): the
    * prediction is the plain mean of the k=5 nearest neighbours'
    * numeric targets. Integer sums divide exactly once on each
    * engine, so the double is bit-exact cross-engine. */
  def qKnnRegress(spark: SparkSession, dir: String): DataFrame =
    knnTopK(spark, dir, 5)
      .groupBy(col("vid"), col("vlabel").as("label"))
      .agg((sum(col("tlabel")).cast("double") / count(lit(1))).as("knn_pred"))

  /** The exact-KNN eval-set bound: the reference's eval sets are
    * fixed-size benchmark splits (thousands of rows) that do NOT grow
    * with the training corpus, but our hash-val split is a fraction
    * of the embeddings table and would. To keep the broadcast below
    * honest at corpus scale, the exact family caps the eval side to a
    * deterministic md5-ordered sample of this many val rows — a
    * bounded stand-in for the reference's fixed benchmark split. At
    * sf0.01 (125 val rows) the cap is a no-op; at sf0.1+ it bites. */
  private[graft] val ExactEvalCap = 200

  /** Exact KNN — the literal eval/knn.py KNeighborsClassifier
    * semantics: every eval vector is classified against EVERY train
    * vector, no candidate filter, so no eval row can vanish. The eval
    * side is the capped, bounded sample above, so broadcasting it is
    * valid at any corpus size: a linear corpus scan + per-query
    * top-k, the right exact plan when |eval| is bounded; the banded
    * family above is the variant for when BOTH sides grow with the
    * corpus. */
  private def knnExactConfusion(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("split", PipelineOps.hashSplit("cast(vec_id AS string)", 12))
    val train = e.filter(col("split") === "train")
      .select(col("vec_id").as("tid"), col("embedding").as("te"), col("label").as("tlabel"))
    val valid = e.filter(col("split") === "val")
      .select(col("vec_id").as("vid"), col("embedding").as("ve"), col("label").as("vlabel"))
      .orderBy(md5(concat(lit("evalset:"), col("vid").cast("string"))), col("vid"))
      .limit(ExactEvalCap)
    val wTop = Window.partitionBy(col("vid")).orderBy(col("cosine").desc, col("tid"))
    val topk = train.crossJoin(broadcast(valid))
      .withColumn("cosine", expr("cosine_sim(ve, te)"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
    val wVote = Window.partitionBy(col("vid"))
      .orderBy(col("votes").desc, col("tlabel"))
    topk.groupBy(col("vid"), col("vlabel"), col("tlabel"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vrk", row_number().over(wVote))
      .filter(col("vrk") === 1)
      .groupBy(col("vlabel").as("label"), col("tlabel").as("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  def qKnnExact(spark: SparkSession, dir: String): DataFrame =
    knnExactConfusion(spark, dir, 5)
  def qKnnK20Exact(spark: SparkSession, dir: String): DataFrame =
    knnExactConfusion(spark, dir, 20)
  def qKnnK100Exact(spark: SparkSession, dir: String): DataFrame =
    knnExactConfusion(spark, dir, 100)

  /** CTE chain ending in `pred` for the EXACT (unfiltered) KNN over
    * the capped eval set — shared by the q_knn_*_exact family and
    * q_eval_metrics_exact. */
  private def exactPredCte(k: Int): String = {
    val cos = s"""(${dotSql("v.ve", "t.te")} / (sqrt(${dotSql("v.ve", "v.ve")}) * sqrt(${dotSql("t.te", "t.te")})))"""
    s"""split AS (SELECT vec_id, embedding, label, $splitDuck AS split FROM embeddings),
       |tr AS (SELECT vec_id AS tid, embedding AS te, label AS tlabel FROM split WHERE split = 'train'),
       |va AS (SELECT vec_id AS vid, embedding AS ve, label AS vlabel FROM split WHERE split = 'val'
       |       ORDER BY md5('evalset:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $ExactEvalCap),
       |topk AS (
       |  SELECT vid, vlabel, tlabel FROM (
       |    SELECT v.vid, v.vlabel, t.tlabel,
       |      ROW_NUMBER() OVER (PARTITION BY v.vid ORDER BY $cos DESC, t.tid) AS rk
       |    FROM va v CROSS JOIN tr t)
       |  WHERE rk <= $k),
       |pred AS (
       |  SELECT vid, vlabel, tlabel AS predicted FROM (
       |    SELECT vid, vlabel, tlabel, COUNT(*) AS votes,
       |      ROW_NUMBER() OVER (PARTITION BY vid ORDER BY COUNT(*) DESC, tlabel) AS vrk
       |    FROM topk GROUP BY vid, vlabel, tlabel)
       |  WHERE vrk = 1)""".stripMargin
  }

  private def knnExactConfusionSql(k: Int): String =
    s"""WITH ${exactPredCte(k)}
       |SELECT vlabel AS label, predicted, CAST(COUNT(*) AS BIGINT) AS n
       |FROM pred GROUP BY 1, 2""".stripMargin

  val qKnnExactSql: String = knnExactConfusionSql(5)
  val qKnnK20ExactSql: String = knnExactConfusionSql(20)
  val qKnnK100ExactSql: String = knnExactConfusionSql(100)

  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b),
       |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)""".stripMargin

  /** Brute-force CTE chain nn/sp/tr/va/topk/pred: ALL (val, train)
    * pairs filtered to hamming≤5 over the corpus-scaled 6·w(n)-bit
    * signature ([[bandWidthCaseSql]], the SAME threshold table the
    * Spark plan uses), ranked by exact cosine — no banding, so the
    * compare proves the Spark banded plan complete over the dynamic
    * ball. */
  private def knnPredSql(k: Int, maxHamming: Int = 5): String = {
    val cos = s"""(${dotSql("v.ve", "t.te")} / (sqrt(${dotSql("v.ve", "v.ve")}) * sqrt(${dotSql("t.te", "t.te")})))"""
    s"""nn AS (SELECT $bandWidthCaseSql AS bw
       |    FROM (SELECT COUNT(*) AS n FROM embeddings)),
       |sp AS (SELECT vec_id, embedding, label,
       |    list_reduce(list_transform(range(6 * (SELECT bw FROM nn)),
       |      i -> CASE WHEN embedding[i+1] >= 0 THEN (CAST(1 AS BIGINT) << i)
       |           ELSE CAST(0 AS BIGINT) END), (a, b) -> a | b) AS sig,
       |    $splitDuck AS split FROM embeddings),
       |tr AS (SELECT vec_id AS tid, embedding AS te, label AS tlabel, sig AS tsig FROM sp WHERE split = 'train'),
       |va AS (SELECT vec_id AS vid, embedding AS ve, label AS vlabel, sig AS vsig FROM sp WHERE split = 'val'),
       |topk AS (
       |  SELECT vid, vlabel, tid, tlabel FROM (
       |    SELECT v.vid, v.vlabel, t.tid, t.tlabel,
       |      ROW_NUMBER() OVER (PARTITION BY v.vid ORDER BY $cos DESC, t.tid) AS rk
       |    FROM va v CROSS JOIN tr t
       |    WHERE bit_count(xor(v.vsig, t.tsig)) <= $maxHamming)
       |  WHERE rk <= $k),
       |pred AS (
       |  SELECT vid, vlabel, tlabel AS predicted FROM (
       |    SELECT vid, vlabel, tlabel, COUNT(*) AS votes,
       |      ROW_NUMBER() OVER (PARTITION BY vid ORDER BY COUNT(*) DESC, tlabel) AS vrk
       |    FROM topk GROUP BY vid, vlabel, tlabel)
       |  WHERE vrk = 1)""".stripMargin
  }

  private def knnConfusionSql(k: Int, maxHamming: Int = 5): String =
    s"""WITH ${knnPredSql(k, maxHamming)}
       |SELECT vlabel AS label, predicted, COUNT(*) AS n
       |FROM pred GROUP BY 1, 2""".stripMargin

  val qKnnClassifySql: String = knnConfusionSql(5)
  val qKnnK20Sql: String = knnConfusionSql(20)
  val qKnnK100Sql: String = knnConfusionSql(100)

  val qKnnRegressSql: String =
    s"""WITH ${knnPredSql(5)}
       |SELECT vid, vlabel AS label,
       |  CAST(SUM(tlabel) AS DOUBLE) / COUNT(*) AS knn_pred
       |FROM topk GROUP BY 1, 2""".stripMargin

  /** Per-class precision/recall/F1 from a confusion matrix — the
    * algebra as pure SQL aggregation (eval/treesat_eval.py:221-311
    * compute_metrics), shared by the banded and exact KNN metric
    * queries. */
  private def evalMetricsFrom(conf: DataFrame): DataFrame = {
    // one aggregate instead of full_outer + left join + three groupBys
    // (r19 opt: 13 → 8 shuffle exchanges, plans/r19/
    // q_eval_metrics_{before,after}.txt): each confusion row (l, p, n)
    // contributes n_actual (and tp when l = p) under cls = l and
    // n_pred under cls = p — a two-leg unpivot + conditional sums is
    // the whole tail, and the full-outer class set falls out of the
    // union. tp attaches to the actual leg only, so a diagonal row
    // never double-counts.
    conf
      .select(explode(array(
        struct(col("label").as("cls"), col("n").as("na"), lit(0L).as("np"),
          when(col("label") === col("predicted"), col("n")).otherwise(lit(0L)).as("tp")),
        struct(col("predicted").as("cls"), lit(0L).as("na"), col("n").as("np"),
          lit(0L).as("tp")))).as("leg"))
      .groupBy(col("leg.cls").as("cls"))
      .agg(sum(col("leg.tp")).as("tp"),
        sum(col("leg.na")).as("n_actual"),
        sum(col("leg.np")).as("n_pred"))
      .withColumn("precision",
        when(col("n_pred") > 0, col("tp").cast("double") / col("n_pred")).otherwise(0.0))
      .withColumn("recall",
        when(col("n_actual") > 0, col("tp").cast("double") / col("n_actual")).otherwise(0.0))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))
        .otherwise(0.0))
  }

  /** Metrics over the banded (corpus-scale) KNN predictions. */
  def qEvalMetrics(spark: SparkSession, dir: String): DataFrame =
    evalMetricsFrom(qKnnClassify(spark, dir))

  /** Metrics over the exact KNN predictions — the values the
    * reference's sklearn eval reports (eval/knn.py + compute_metrics). */
  def qEvalMetricsExact(spark: SparkSession, dir: String): DataFrame =
    evalMetricsFrom(qKnnExact(spark, dir))

  private val evalMetricsTailSql: String =
    s"""conf AS (SELECT vlabel AS label, predicted, COUNT(*) AS n FROM pred GROUP BY 1, 2),
       |tp AS (SELECT label AS cls, n AS tp FROM conf WHERE label = predicted),
       |act AS (SELECT label AS cls, CAST(SUM(n) AS BIGINT) AS n_actual FROM conf GROUP BY 1),
       |prd AS (SELECT predicted AS cls, CAST(SUM(n) AS BIGINT) AS n_pred FROM conf GROUP BY 1),
       |base AS (
       |  SELECT COALESCE(act.cls, prd.cls) AS cls,
       |    COALESCE(tp.tp, 0) AS tp,
       |    COALESCE(act.n_actual, 0) AS n_actual,
       |    COALESCE(prd.n_pred, 0) AS n_pred
       |  FROM act FULL OUTER JOIN prd ON act.cls = prd.cls
       |  LEFT JOIN tp ON COALESCE(act.cls, prd.cls) = tp.cls),
       |pr AS (
       |  SELECT cls, tp, n_actual, n_pred,
       |    CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END AS precision,
       |    CASE WHEN n_actual > 0 THEN CAST(tp AS DOUBLE) / n_actual ELSE 0.0 END AS recall
       |  FROM base)
       |SELECT cls, tp, n_actual, n_pred, precision, recall,
       |  CASE WHEN precision + recall > 0
       |       THEN 2.0 * precision * recall / (precision + recall) ELSE 0.0 END AS f1
       |FROM pr""".stripMargin

  val qEvalMetricsSql: String =
    s"""WITH ${knnPredSql(5)},
       |$evalMetricsTailSql""".stripMargin

  val qEvalMetricsExactSql: String =
    s"""WITH ${exactPredCte(5)},
       |$evalMetricsTailSql""".stripMargin

  /** Regression-eval metrics (the algae-blooms / fuel-moisture eval
    * family, eval/algae_blooms_eval.py:36-): a per-group-mean
    * baseline model fit on the hash-train split, scored on the val
    * split with MAE / MSE / R² as pure SQL aggregation. Means of
    * computed doubles go through the floor-quantized exact forms. */
  def qRegressionMetrics(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("split", PipelineOps.hashSplit("cast(event_id AS string)", 12))
    val model = ev.filter(col("split") === "train")
      .groupBy(col("event_type")).agg(dmean(col("value")).as("pred"))
    val scored = ev.filter(col("split") === "val")
      .join(model, "event_type")
      .withColumn("err", col("value") - col("pred"))
    val gmean = scored.groupBy(col("event_type"))
      .agg(dmean(col("value")).as("ybar"))
    scored.join(gmean, "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        qmean(abs(col("err"))).as("mae"),
        qmean(col("err") * col("err")).as("mse"),
        (lit(1.0) -
          sum(floor(col("err") * col("err") * 1e6).cast("long")).cast("double") /
          sum(floor((col("value") - col("ybar")) * (col("value") - col("ybar")) * 1e6)
            .cast("long")).cast("double")).as("r2"))
  }

  val qRegressionMetricsSql: String = {
    val split = PipelineOps.hashSplitSql("cast(event_id AS VARCHAR)", 12)
      .replace("instr(", "strpos(")
    s"""WITH sp AS (SELECT event_id, event_type, value, $split AS split FROM events),
       |model AS (SELECT event_type, ${Exact.dmeanSql("value")} AS pred
       |          FROM sp WHERE split = 'train' GROUP BY 1),
       |scored AS (
       |  SELECT v.event_type, v.value, v.value - m.pred AS err
       |  FROM sp v JOIN model m ON v.event_type = m.event_type
       |  WHERE v.split = 'val'),
       |gmean AS (SELECT event_type, ${Exact.dmeanSql("value")} AS ybar
       |          FROM scored GROUP BY 1)
       |SELECT s.event_type, COUNT(*) AS n,
       |  ${Exact.qmeanSql("abs(s.err)")} AS mae,
       |  ${Exact.qmeanSql("s.err * s.err")} AS mse,
       |  1.0 - CAST(SUM(CAST(FLOOR(s.err * s.err * 1000000.0) AS BIGINT)) AS DOUBLE)
       |      / CAST(SUM(CAST(FLOOR((s.value - g.ybar) * (s.value - g.ybar) * 1000000.0) AS BIGINT)) AS DOUBLE) AS r2
       |FROM scored s JOIN gmean g ON s.event_type = g.event_type
       |GROUP BY s.event_type""".stripMargin
  }

  /** 5-fold cross-validated OLS in ONE pass over the data — the
    * distributed CV trick: per-fold sufficient statistics aggregate
    * once (folds assigned by the deterministic keyed hash,
    * [[PipelineOps.hexDigit]] mod 5 — the q_stratified_split source),
    * and fold f's TRAINING statistics are totals − fold_f, a pure
    * subtraction of already-exact sums. No per-fold re-scan, no 5×
    * shuffle: the "leave-fold-out by complement" identity that makes
    * k-fold CV cost one aggregation at 100 TB. Each fold's
    * slope/intercept (the qOlsByGroup closed form) then scores its
    * own held-out rows via a 5-row broadcast join; per-row squared
    * residuals floor-quantize at 1e-6 before the MSE mean (computed
    * doubles under aggregation — the Exact.qmean rule).
    * Output: per fold — train/test sizes, the fold model, held-out
    * MSE. The spread across folds is the variance estimate a model
    * selection loop reads. */
  def qKfoldOls(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      pmod(PipelineOps.hexDigit("concat('cv|', cast(event_id AS string))", 1),
        lit(5)).as("fold"),
      datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
        .cast("long").as("x"),
      col("value").as("y"))
    val perFold = ev.groupBy(col("fold")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      dsum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      dsum(col("y") * col("x")).as("sxy"))
    val tot = perFold.agg(
      sum(col("n")).as("tn"),
      sum(col("sx")).as("tsx"),
      sum(col("sy").cast(Dec)).cast("double").as("tsy"),
      sum(col("sxx")).as("tsxx"),
      sum(col("sxy").cast(Dec)).cast("double").as("tsxy"))
    val train = perFold.crossJoin(broadcast(tot))
      .withColumn("n_train", col("tn") - col("n"))
      .withColumn("rsx", col("tsx") - col("sx"))
      .withColumn("rsy", col("tsy") - col("sy"))
      .withColumn("rsxx", col("tsxx") - col("sxx"))
      .withColumn("rsxy", col("tsxy") - col("sxy"))
    val dn = col("n_train").cast("double")
    val dsx = col("rsx").cast("double")
    val num = dn * col("rsxy") - dsx * col("rsy")
    val den = dn * col("rsxx").cast("double") - dsx * dsx
    val models = train
      .withColumn("slope", num / den)
      .withColumn("intercept", (col("rsy") - (num / den) * dsx) / dn)
      .select(col("fold"), col("n_train"), col("n").as("n_test"),
        col("slope"), col("intercept"))
    ev.join(broadcast(models), Seq("fold"))
      .withColumn("r2q",
        floor(
          (col("y") - (col("intercept") + col("slope") * col("x").cast("double"))) *
          (col("y") - (col("intercept") + col("slope") * col("x").cast("double"))) *
          lit(1000000.0)).cast("long"))
      .groupBy(col("fold"), col("n_train"), col("n_test"),
        col("slope"), col("intercept"))
      .agg((sum(col("r2q")).cast("double") / lit(1000000.0) / count(lit(1)))
        .as("mse"))
  }

  val qKfoldOlsSql: String = {
    val fold = PipelineOps.hexDigitSql("concat('cv|', cast(event_id AS VARCHAR))", "1")
      .replace("instr(", "strpos(")
    s"""WITH ev AS (
       |  SELECT (($fold) % 5 + 5) % 5 AS fold,
       |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
       |    value AS y
       |  FROM events),
       |per_fold AS (
       |  SELECT fold, COUNT(*) AS n,
       |    SUM(x) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
       |    SUM(x * x) AS sxx,
       |    CAST(SUM(CAST(y * x AS DECIMAL(25,6))) AS DOUBLE) AS sxy
       |  FROM ev GROUP BY fold),
       |tot AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(sx) AS BIGINT) AS tsx,
       |    CAST(SUM(CAST(sy AS DECIMAL(25,6))) AS DOUBLE) AS tsy,
       |    CAST(SUM(sxx) AS BIGINT) AS tsxx,
       |    CAST(SUM(CAST(sxy AS DECIMAL(25,6))) AS DOUBLE) AS tsxy
       |  FROM per_fold),
       |train AS (
       |  SELECT fold, n AS n_test, tn - n AS n_train,
       |    tsx - sx AS rsx, tsy - sy AS rsy, tsxx - sxx AS rsxx, tsxy - sxy AS rsxy
       |  FROM per_fold CROSS JOIN tot),
       |models AS (
       |  SELECT fold, n_train, n_test,
       |    (CAST(n_train AS DOUBLE) * rsxy - CAST(rsx AS DOUBLE) * rsy)
       |      / (CAST(n_train AS DOUBLE) * CAST(rsxx AS DOUBLE)
       |         - CAST(rsx AS DOUBLE) * CAST(rsx AS DOUBLE)) AS slope,
       |    (rsy - ((CAST(n_train AS DOUBLE) * rsxy - CAST(rsx AS DOUBLE) * rsy)
       |      / (CAST(n_train AS DOUBLE) * CAST(rsxx AS DOUBLE)
       |         - CAST(rsx AS DOUBLE) * CAST(rsx AS DOUBLE))) * CAST(rsx AS DOUBLE))
       |      / CAST(n_train AS DOUBLE) AS intercept
       |  FROM train)
       |SELECT m.fold, m.n_train, m.n_test, m.slope, m.intercept,
       |  CAST(SUM(CAST(FLOOR(
       |      (e.y - (m.intercept + m.slope * CAST(e.x AS DOUBLE)))
       |      * (e.y - (m.intercept + m.slope * CAST(e.x AS DOUBLE)))
       |      * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*) AS mse
       |FROM ev e JOIN models m ON e.fold = m.fold
       |GROUP BY m.fold, m.n_train, m.n_test, m.slope, m.intercept""".stripMargin
  }

  /** Multinomial naive Bayes language classifier — the TRAINED
    * counterpart of the q_lang_id marker heuristic, and the shape of
    * the fastText-style quality/language classifiers LLM data
    * pipelines run over every document (CCNet/RefinedWeb use exactly
    * this train-on-labels → score-the-corpus loop). Train on even
    * doc_ids, score the held-out odd ones: add-one-smoothed per-class
    * token likelihoods + log priors, argmax per document.
    *
    * Every stage is keyed: the model (cw) is a (class, word)
    * aggregation joined back to test tokens on the same key; the
    * 5-row class table, vocab size, and priors broadcast; the argmax
    * is a per-doc window. Zero-token documents still classify on the
    * prior alone via the test×class spine. Cross-engine determinism:
    * each ln(·) floor-quantizes at 1e-9 to a long (the q_bigram_lm
    * rule), sums are integer, tie-break is (scoreq DESC, class ASC).
    * At 100 TB only cw scales with the corpus — and it shrinks to
    * the vocabulary after one aggregation; scoring reads each token
    * once per class. */
  def qNbLang(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus tokenization pass (r20, guide §2.3 — aggregate before
    // the fan-out): the per-doc term-frequency table (doc_id, lang, w,
    // tf) is materialized once and BOTH halves consume counts — the
    // model trains on sum(tf) (= the old per-occurrence count), and
    // the scorer's ×|classes| fan-out and cw join ship one row per
    // (doc, distinct word) instead of one per token occurrence, with
    // each contribution weighted by tf (lpq is a quantized long, so
    // tf·lpq equals the per-occurrence sum EXACTLY). The old plan
    // re-ran the scan+regexp subtree for each half.
    val tf = graft.operators.ScaleOps.materializeOnce(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
        .groupBy(col("doc_id"), col("lang"), col("w"))
        .agg(count(lit(1)).as("tf")))
    val cw = tf.filter(col("doc_id") % 2 === 0)
      .groupBy(col("lang").as("cls"), col("w"))
      .agg(sum(col("tf")).as("cw"))
    // ct and vocab derive from the vocabulary-sized cw table instead
    // of re-aggregating the corpus token stream (r19 opt): per-class
    // token totals are the sum of cw within the class, and the vocab
    // is the distinct w of cw's key — one corpus-sized pass, not three
    // (exact integers either way).
    val ct = cw.groupBy(col("cls")).agg(sum(col("cw")).as("ct"))
    val vocab = cw.select(col("w")).distinct().agg(count(lit(1)).as("v"))
    // doc-level legs (priors, spine) read only (doc_id, lang): a
    // column-pruned parquet scan, no tokenization
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val train = base.filter(col("doc_id") % 2 === 0)
    val test = base.filter(col("doc_id") % 2 === 1)
    val nTrain = train.agg(count(lit(1)).as("n_all"))
    val prior = train.groupBy(col("lang").as("cls")).agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(nTrain))
      .withColumn("priorq",
        floor(log(col("nd").cast("double") / col("n_all").cast("double")) * lit(1e9))
          .cast("long"))
      .select(col("cls"), col("priorq"))
    val classes = ct.crossJoin(broadcast(vocab))
    val contrib = tf.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("w"), col("tf"))
      .crossJoin(broadcast(classes))
      .join(cw, Seq("cls", "w"), "left")
      .withColumn("lpq",
        floor(log((coalesce(col("cw"), lit(0L)).cast("double") + lit(1.0)) /
            (col("ct").cast("double") + col("v").cast("double"))) * lit(1e9))
          .cast("long"))
      .groupBy(col("doc_id"), col("cls"))
      .agg(sum(col("lpq") * col("tf")).as("sum_lpq"),
        sum(col("tf")).as("n_tokens"))
    val spine = test.select(col("doc_id"), col("lang")).crossJoin(broadcast(prior))
    val scored = spine.join(contrib, Seq("doc_id", "cls"), "left")
      .withColumn("scoreq", col("priorq") + coalesce(col("sum_lpq"), lit(0L)))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("scoreq").desc, col("cls").asc)
    scored.withColumn("rk", row_number().over(wDoc))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang").as("actual_lang"),
              col("cls").as("pred_lang"), col("scoreq"),
              coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }

  val qNbLangSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z]+') AS t
      |  FROM documents),
      |train AS (SELECT * FROM d WHERE doc_id % 2 = 0),
      |test AS (SELECT * FROM d WHERE doc_id % 2 = 1),
      |toks AS (SELECT lang, unnest(t) AS w FROM train),
      |cw AS (SELECT lang AS cls, w, COUNT(*) AS cw FROM toks GROUP BY 1, 2),
      |ct AS (SELECT lang AS cls, COUNT(*) AS ct FROM toks GROUP BY 1),
      |vocab AS (SELECT COUNT(DISTINCT w) AS v FROM toks),
      |ntr AS (SELECT COUNT(*) AS n_all FROM train),
      |prior AS (
      |  SELECT lang AS cls,
      |    CAST(FLOOR(ln(CAST(COUNT(*) AS DOUBLE) / CAST(ANY_VALUE(n.n_all) AS DOUBLE))
      |      * 1e9) AS BIGINT) AS priorq
      |  FROM train CROSS JOIN ntr n GROUP BY lang),
      |tt AS (SELECT doc_id, unnest(t) AS w FROM test),
      |contrib AS (
      |  SELECT tt.doc_id, c.cls,
      |    SUM(CAST(FLOOR(ln(
      |        (CAST(COALESCE(cw.cw, 0) AS DOUBLE) + 1e0)
      |          / (CAST(c.ct AS DOUBLE) + CAST(v.v AS DOUBLE))) * 1e9) AS BIGINT))
      |      AS sum_lpq,
      |    COUNT(*) AS n_tokens
      |  FROM tt CROSS JOIN ct c CROSS JOIN vocab v
      |  LEFT JOIN cw ON cw.cls = c.cls AND cw.w = tt.w
      |  GROUP BY 1, 2),
      |spine AS (SELECT te.doc_id, te.lang, p.cls, p.priorq FROM test te CROSS JOIN prior p),
      |scored AS (
      |  SELECT s.doc_id, s.lang, s.cls,
      |    CAST(s.priorq + COALESCE(c.sum_lpq, 0) AS BIGINT) AS scoreq,
      |    CAST(COALESCE(c.n_tokens, 0) AS BIGINT) AS n_tokens
      |  FROM spine s LEFT JOIN contrib c ON c.doc_id = s.doc_id AND c.cls = s.cls)
      |SELECT doc_id, lang AS actual_lang, cls AS pred_lang, scoreq, n_tokens
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY scoreq DESC, cls ASC) AS rk
      |      FROM scored)
      |WHERE rk = 1""".stripMargin

  /** Nearest-class-centroid (Rocchio) classifier over the embedding
    * table — the geometric sibling of [[qNbLang]] and the simplest
    * member of the probe family (eval/eval.py:191-211): class means
    * from the even-id train split, squared-L2 assignment of the odd-id
    * held-out vectors, deterministic argmin. The centroid table is
    * (labels × dims) rows — a broadcast model; distances accumulate as
    * floor-quantized per-dimension terms (order-free longs) keyed on
    * (vec, label); the argmin is a per-vector window with (distq ASC,
    * label ASC) tie-break. One corpus-sized shuffle (the posexplode
    * groupBy); everything downstream is keyed or broadcast. */
  def qCentroidClassify(spark: SparkSession, dir: String): DataFrame =
    centroidPredictions(spark, dir)
      .select(col("vec_id"), col("actual_label"), col("pred_label"), col("distq"))

  private def centroidPredictions(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val exp = e.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("x", col("x").cast("double"))
    val train = exp.filter(col("vec_id") % 2 === 0)
    val test = exp.filter(col("vec_id") % 2 === 1)
    val cent = train.groupBy(col("label").as("cls"), col("pos"))
      .agg(Exact.qmean(col("x")).as("c"))
    val dist = test.join(broadcast(cent), Seq("pos"))
      .groupBy(col("vec_id"), col("cls"))
      .agg(first(col("label")).as("actual_label"),
        sum(floor((col("x") - col("c")) * (col("x") - col("c")) * lit(1e6))
          .cast("long")).as("distq"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("distq").asc, col("cls").asc)
    dist.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("vec_id"), col("actual_label"),
        col("cls").as("pred_label"), col("distq"))
  }

  val centroidPredictionsSql: String =
    """WITH exp AS (
      |  SELECT vec_id, label, CAST(i - 1 AS INT) AS pos,
      |    CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
      |train AS (SELECT * FROM exp WHERE vec_id % 2 = 0),
      |test AS (SELECT * FROM exp WHERE vec_id % 2 = 1),
      |cent AS (
      |  SELECT label AS cls, pos,
      |    CAST(SUM(CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS DOUBLE)
      |      / 1000000.0 / COUNT(x) AS c
      |  FROM train GROUP BY 1, 2),
      |dist AS (
      |  SELECT t.vec_id, ct.cls, ANY_VALUE(t.label) AS actual_label,
      |    CAST(SUM(CAST(FLOOR((t.x - ct.c) * (t.x - ct.c) * 1e6) AS BIGINT))
      |      AS BIGINT) AS distq
      |  FROM test t JOIN cent ct ON t.pos = ct.pos
      |  GROUP BY 1, 2)
      |SELECT vec_id, actual_label, cls AS pred_label, distq
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |        ORDER BY distq ASC, cls ASC) AS rk FROM dist)
      |WHERE rk = 1""".stripMargin

  val qCentroidClassifySql: String = centroidPredictionsSql

  /** Macro-averaged F1 of the centroid classifier — the per-class
    * precision/recall/F1 table plus the macro mean, the multi-class
    * eval summary the reference computes with sklearn
    * (cropharvest_eval.py:368-370 weighted F1; macro is the
    * class-balance-blind variant). Confusion cells are exact integer
    * counts; each ratio is one guarded IEEE division; the macro mean
    * quantizes the five F1 doubles before averaging (the qmean rule).
    * Output: one row per class + the 'MACRO' summary row. */
  def qMacroF1(spark: SparkSession, dir: String): DataFrame = {
    // cls as STRING end-to-end: the labels are numeric, and the union
    // with the 'MACRO' summary row must not coerce the label column
    // back to a numeric type (ANSI would fail casting 'MACRO')
    val pred = centroidPredictions(spark, dir).localCheckpoint(false)
    // one aggregate instead of distinct + three groupBys + three left
    // joins (r19 opt, the evalMetricsFrom unpivot): each prediction
    // row contributes (na, tp-if-diagonal) under its actual label and
    // np under its predicted label; the class-membership rule — one
    // row per DISTINCT ACTUAL label, predicted-only labels excluded —
    // is exactly the post-aggregate na > 0 filter (every actual class
    // has na ≥ 1).
    val perClass = pred
      .select(explode(array(
        struct(col("actual_label").cast("string").as("cls"),
          lit(1L).as("na"), lit(0L).as("np"),
          when(col("pred_label") === col("actual_label"), lit(1L))
            .otherwise(lit(0L)).as("tp")),
        struct(col("pred_label").cast("string").as("cls"),
          lit(0L).as("na"), lit(1L).as("np"), lit(0L).as("tp")))).as("leg"))
      .groupBy(col("leg.cls").as("cls"))
      .agg(sum(col("leg.tp")).as("tp"), sum(col("leg.np")).as("np"),
        sum(col("leg.na")).as("na"))
      .filter(col("na") > 0)
      .withColumn("p", when(col("np") > 0,
        col("tp").cast("double") / col("np").cast("double")).otherwise(lit(0.0)))
      .withColumn("r", when(col("na") > 0,
        col("tp").cast("double") / col("na").cast("double")).otherwise(lit(0.0)))
      .withColumn("f1", when(col("p") + col("r") > 0,
        lit(2.0) * col("p") * col("r") / (col("p") + col("r"))).otherwise(lit(0.0)))
    val macroRow = perClass.agg(
        (sum(floor(col("f1") * lit(1e9)).cast("long")).cast("double") / lit(1e9) /
          count(lit(1))).as("f1"))
      .select(lit("MACRO").as("cls"), lit(null).cast("long").as("tp"),
        lit(null).cast("long").as("np"), lit(null).cast("long").as("na"),
        lit(null).cast("double").as("p"), lit(null).cast("double").as("r"),
        col("f1"))
    perClass.select("cls", "tp", "np", "na", "p", "r", "f1")
      .unionByName(macroRow)
  }

  val qMacroF1Sql: String =
    s"""WITH pred AS ($centroidPredictionsSql),
       |classes AS (SELECT DISTINCT CAST(actual_label AS VARCHAR) AS cls FROM pred),
       |tp AS (SELECT CAST(actual_label AS VARCHAR) AS cls, COUNT(*) AS tp FROM pred
       |       WHERE pred_label = actual_label GROUP BY 1),
       |np AS (SELECT CAST(pred_label AS VARCHAR) AS cls, COUNT(*) AS np FROM pred GROUP BY 1),
       |na AS (SELECT CAST(actual_label AS VARCHAR) AS cls, COUNT(*) AS na FROM pred GROUP BY 1),
       |per AS (
       |  SELECT c.cls,
       |    COALESCE(tp.tp, 0) AS tp, COALESCE(np.np, 0) AS np,
       |    COALESCE(na.na, 0) AS na,
       |    CASE WHEN COALESCE(np.np, 0) > 0
       |      THEN CAST(COALESCE(tp.tp, 0) AS DOUBLE) / CAST(np.np AS DOUBLE)
       |      ELSE 0.0 END AS p,
       |    CASE WHEN COALESCE(na.na, 0) > 0
       |      THEN CAST(COALESCE(tp.tp, 0) AS DOUBLE) / CAST(na.na AS DOUBLE)
       |      ELSE 0.0 END AS r
       |  FROM classes c
       |  LEFT JOIN tp ON tp.cls = c.cls
       |  LEFT JOIN np ON np.cls = c.cls
       |  LEFT JOIN na ON na.cls = c.cls),
       |scored AS (
       |  SELECT cls, CAST(tp AS BIGINT) AS tp, CAST(np AS BIGINT) AS np,
       |    CAST(na AS BIGINT) AS na, p, r,
       |    CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END AS f1
       |  FROM per)
       |SELECT cls, tp, np, na, p, r, f1 FROM scored
       |UNION ALL
       |SELECT 'MACRO', NULL, NULL, NULL, NULL, NULL,
       |  CAST(SUM(CAST(FLOOR(f1 * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*)
       |FROM scored""".stripMargin

  // ---- Probe inference (fixed weights) -------------------------------
  //
  // The reference fits sklearn LogisticRegression / RandomForest probes
  // on frozen encoder embeddings and scores the val split
  // (eval/eval.py:191-211). Training is sklearn-internal (seeded LBFGS /
  // bootstrap) and not oracle-reproducible, so the graded surface here is
  // the INFERENCE operator — the distributed scoring pass a fitted probe
  // runs over the corpus — with deterministic fixed weights generated
  // from one integer formula on BOTH engine and oracle sides. spark.ml
  // fitting itself lives in operators/MlProbes (spec-verified).
  //
  // Scale shape: scoring is a map-only pass (weights broadcast as
  // literals; at 100 TB they'd broadcast as a one-row table), argmax is
  // a per-row array fold — the only shuffle is the final confusion-cell
  // aggregation, whose cardinality is #classes², not data.

  private val LrClasses = 10
  private val LrDims = 64
  /** w(c,d) ∈ [-9, 9]: one integer formula shared by engine + oracle. */
  private def lrW(c: Int, d: Int): Int = (((c * LrDims + d) * 37 + 11) % 19) - 9
  /** b(c) ∈ [-8, 8]. */
  private def lrB(c: Int): Int = ((c * 53) % 17) - 8

  /** Multinomial LR probe inference: score_c = (b_c + Σ_d w(c,d)·x_d)/10,
    * argmax class (ties → smaller c), confusion cells (label, pred, n)
    * with a quantized score checksum. Per-row arithmetic is a
    * sequential-fold dot product — bit-exact across engines (same
    * left-fold order, all-double ops). */
  def qLrProbe(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val scoreCols = (0 until LrClasses).map { c =>
      val ws = (0 until LrDims).map(d => lrW(c, d)).mkString(",")
      struct(
        expr(s"""(aggregate(zip_with(embedding, array($ws),
                |   (x, w) -> CAST(x AS DOUBLE) * w),
                | 0D, (acc, v) -> acc + v) + ${lrB(c)}) / 10.0""".stripMargin)
          .as("score"),
        lit(c).as("cls"))
    }
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("s.score").desc, col("s.cls"))
    e.withColumn("s", explode(array(scoreCols: _*)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("label"), col("s.cls").as("pred"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("s.score") * lit(1000000.0)).cast("long")).as("score_q"))
  }

  val qLrProbeSql: String = {
    val arms = (0 until LrClasses).map { c =>
      val ws = (0 until LrDims).map(d => lrW(c, d)).mkString(",")
      s"""SELECT vec_id, label, $c AS cls,
         |  (list_reduce(list_transform(list_zip(embedding, [$ws]),
         |      p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y)
         |   + ${lrB(c)}) / 10.0 AS score
         |FROM embeddings""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH scored AS (
       |$arms),
       |ranked AS (
       |  SELECT label, cls, score, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cls) AS rk
       |  FROM scored)
       |SELECT label, cls AS pred, COUNT(*) AS n,
       |  CAST(SUM(CAST(FLOOR(score * 1e6) AS BIGINT)) AS BIGINT) AS score_q
       |FROM ranked WHERE rk = 1
       |GROUP BY 1, 2""".stripMargin
  }

  private val RfTrees = 16
  /** Depth-2 tree t: split dims/thresholds + leaf classes, one integer
    * formula on both sides. Thresholds are exact-binary doubles so the
    * float comparison is engine-independent. */
  private def rfD1(t: Int): Int = (t * 7 + 1) % 64 + 1   // 1-based dim
  private def rfD2(t: Int): Int = (t * 11 + 3) % 64 + 1
  private def rfD3(t: Int): Int = (t * 13 + 5) % 64 + 1
  private def rfLeaf(t: Int, leaf: Int): Int = (t * 3 + leaf * 5 + 1) % 10

  /** Random-forest probe inference: 16 fixed depth-2 trees vote per
    * row; majority class (ties → smaller class) vs label as confusion
    * cells. The tree walk is a per-row CASE cascade (map-only); votes
    * never leave the row — the vote histogram is an array fold, so the
    * only shuffle is the #classes²-cell confusion aggregate. */
  def qRfVote(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val votes = (0 until RfTrees).map { t =>
      expr(s"""CASE WHEN CAST(embedding[${rfD1(t) - 1}] AS DOUBLE) < 0.0D
              |  THEN CASE WHEN CAST(embedding[${rfD2(t) - 1}] AS DOUBLE) < -0.0625D
              |    THEN ${rfLeaf(t, 0)} ELSE ${rfLeaf(t, 1)} END
              |  ELSE CASE WHEN CAST(embedding[${rfD3(t) - 1}] AS DOUBLE) < 0.0625D
              |    THEN ${rfLeaf(t, 2)} ELSE ${rfLeaf(t, 3)} END END""".stripMargin)
    }
    // vote histogram + argmax entirely inside the row: count votes for
    // each class c, pick (count desc, c asc) via a single fold
    e.withColumn("votes", array(votes: _*))
      .withColumn("pred", expr(
        s"""aggregate(sequence(0, ${LrClasses - 1}),
           |  named_struct('best', -1, 'cnt', -1),
           |  (acc, c) -> CASE
           |    WHEN size(filter(votes, v -> v = c)) > acc.cnt
           |      THEN named_struct('best', c, 'cnt', size(filter(votes, v -> v = c)))
           |    ELSE acc END,
           |  acc -> acc.best)""".stripMargin))
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n"))
  }

  val qRfVoteSql: String = {
    val voteExprs = (0 until RfTrees).map { t =>
      s"""CASE WHEN CAST(embedding[${rfD1(t)}] AS DOUBLE) < 0.0
         |  THEN CASE WHEN CAST(embedding[${rfD2(t)}] AS DOUBLE) < -0.0625
         |    THEN ${rfLeaf(t, 0)} ELSE ${rfLeaf(t, 1)} END
         |  ELSE CASE WHEN CAST(embedding[${rfD3(t)}] AS DOUBLE) < 0.0625
         |    THEN ${rfLeaf(t, 2)} ELSE ${rfLeaf(t, 3)} END END""".stripMargin
    }.map(e => s"SELECT vec_id, label, ($e) AS v FROM embeddings")
     .mkString("\nUNION ALL\n")
    s"""WITH votes AS (
       |$voteExprs),
       |hist AS (
       |  SELECT vec_id, label, v, COUNT(*) AS cnt FROM votes GROUP BY 1, 2, 3),
       |ranked AS (
       |  SELECT label, v, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY cnt DESC, v) AS rk
       |  FROM hist)
       |SELECT label, v AS pred, COUNT(*) AS n
       |FROM ranked WHERE rk = 1
       |GROUP BY 1, 2""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lr_probe" -> (qLrProbe _),
    "q_rf_vote" -> (qRfVote _),
    "q_centroid_classify" -> (qCentroidClassify _),
    "q_macro_f1" -> (qMacroF1 _),
    "q_nb_lang" -> (qNbLang _),
    "q_kfold_ols" -> (qKfoldOls _),
    "q_knn_exact" -> (qKnnExact _),
    "q_knn_k20_exact" -> (qKnnK20Exact _),
    "q_knn_k100_exact" -> (qKnnK100Exact _),
    "q_knn_classify" -> (qKnnClassify _),
    "q_knn_k20_banded" -> (qKnnK20Banded _),
    "q_knn_k100_banded" -> (qKnnK100Banded _),
    "q_knn_regress" -> (qKnnRegress _),
    "q_eval_metrics" -> (qEvalMetrics _),
    "q_eval_metrics_exact" -> (qEvalMetricsExact _),
    "q_regression_metrics" -> (qRegressionMetrics _),
  )

  val oracle: Map[String, String] = Map(
    "q_lr_probe" -> qLrProbeSql,
    "q_rf_vote" -> qRfVoteSql,
    "q_centroid_classify" -> qCentroidClassifySql,
    "q_macro_f1" -> qMacroF1Sql,
    "q_nb_lang" -> qNbLangSql,
    "q_kfold_ols" -> qKfoldOlsSql,
    "q_knn_exact" -> qKnnExactSql,
    "q_knn_k20_exact" -> qKnnK20ExactSql,
    "q_knn_k100_exact" -> qKnnK100ExactSql,
    "q_knn_classify" -> qKnnClassifySql,
    "q_knn_k20_banded" -> qKnnK20Sql,
    "q_knn_k100_banded" -> qKnnK100Sql,
    "q_knn_regress" -> qKnnRegressSql,
    "q_eval_metrics" -> qEvalMetricsSql,
    "q_eval_metrics_exact" -> qEvalMetricsExactSql,
    "q_regression_metrics" -> qRegressionMetricsSql,
  )
}
