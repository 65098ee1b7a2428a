package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.queries.Exact._

/** Core relational operator surface (SURVEY.md §2.2–2.4, §2.6–2.7).
  *
  * Each query is a declarative DataFrame plan — Catalyst pushes the
  * filters/projections to the parquet scan, picks broadcast joins for
  * the dimension tables, and does partial (map-side) aggregation before
  * the shuffle. At 100 TB the same plans hold: the fact tables
  * (lineitem/events) shuffle only on their group/join keys, dimensions
  * broadcast, and AQE handles skew.
  *
  * Determinism contract with the DuckDB oracle: double sums accumulate
  * in decimal (see [[Exact]]), ranks tie-break on a unique key, month
  * keys are formatted strings.
  */
object RelationalQueries {

  /** TPC-H Q1-style pricing summary — the canonical filter→groupBy→agg
    * plan (temporal median composite shape, SURVEY §2.4; reference
    * monthly.py:256,288 does filter→median per group). */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dmean(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
  }

  val q1AggSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  ${dsumSql("l_extendedprice")} AS sum_base_price,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${dmeanSql("l_quantity")} AS avg_qty,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Compound predicates: date range + BETWEEN + IN + modulo
    * (SURVEY §2.2 date-range / metadata-scalar / row filters). */
  def qFilterPredicates(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_quantity").between(10, 20) &&
        col("l_returnflag").isin("A", "R") &&
        col("l_linenumber") % 2 === 0)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
  }

  val qFilterPredicatesSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |  AND l_shipdate <  TIMESTAMP '1996-01-01'
      |  AND l_quantity BETWEEN 10 AND 20
      |  AND l_returnflag IN ('A','R')
      |  AND l_linenumber % 2 = 0""".stripMargin

  /** QA-bitmask filter — the reference's cloud/QA bit tests
    * (`qa.bitwiseAnd(1<<10).eq(0)`, optimization.py:106-118) as integer
    * bit arithmetic pushed into the scan. */
  def qBitmaskQa(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter((col("l_orderkey").bitwiseAND(lit(3)) === 0) &&
              (col("l_partkey").bitwiseAND(lit(8)) =!= 0))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
  }

  val qBitmaskQaSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE (l_orderkey & 3) = 0 AND (l_partkey & 8) <> 0
       |GROUP BY l_returnflag""".stripMargin

  /** Star join: fact ⋈ 4 dimensions, revenue per nation (band-stack /
    * multi-source join shape, SURVEY §2.3). Dimensions are broadcast —
    * at 100 TB only lineitem⋈orders shuffles, on the join key. */
  def qJoinStar(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_lines"))
  }

  val qJoinStarSql: String =
    s"""SELECT r_name, n_name,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
       |GROUP BY r_name, n_name""".stripMargin

  /** Multi-source full-outer join on a composite key — mirrors the
    * reference's `pd.merge(s2, s1, on=['time','x','y'], how='outer')`
    * (notebook/prepare_process.ipynb, SURVEY §2.3). Two event-type
    * streams aligned per (user, day). */
  def qJoinOuter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def side(t: String, as: String): DataFrame =
      ev.filter(col("event_type") === t)
        .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(dsum(col("value")).as(as))
    side("purchase", "purchase_value")
      .join(side("click", "click_value"), Seq("user_id", "day"), "full_outer")
  }

  val qJoinOuterSql: String =
    s"""WITH p AS (
       |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
       |         ${dsumSql("value")} AS purchase_value
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
       |c AS (
       |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
       |         ${dsumSql("value")} AS click_value
       |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
       |SELECT COALESCE(p.user_id, c.user_id) AS user_id,
       |       COALESCE(p.day, c.day) AS day,
       |       purchase_value, click_value
       |FROM p FULL OUTER JOIN c ON p.user_id = c.user_id AND p.day = c.day""".stripMargin

  /** Semi + anti join, tagged union (engine surface beyond the
    * reference, SURVEY §2.3 last row). */
  /** TPC-H Q3 shape — the classic multi-join OLAP headline: segment
    * filter on customers, date filters pushed into both fact scans,
    * fact-to-fact shuffle join on the order key, quantized-exact
    * revenue aggregate, top-10 as orderBy+limit
    * (TakeOrderedAndProject — partial per-partition top-k). The
    * filtered customer side is a fraction of a corpus-scale table:
    * it is NOT force-broadcast; local stats pick broadcast here, AQE
    * decides at scale. */
  def qTpchQ3(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-06-01").cast("timestamp")
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cut)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cut)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_orderpriority"))
      .agg(Exact.qsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val qTpchQ3Sql: String =
    s"""SELECT l_orderkey, orderdate, o_orderpriority, revenue FROM (
       |  SELECT l.l_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       |    o.o_orderpriority,
       |    ${Exact.qsumSql("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  WHERE c.c_mktsegment = 'BUILDING'
       |    AND o.o_orderdate < TIMESTAMP '1998-06-01'
       |    AND l.l_shipdate > TIMESTAMP '1998-06-01'
       |  GROUP BY 1, 2, 3)
       |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q17 shape — the correlated-scalar-subquery family
    * (`l_quantity < (SELECT 0.2*avg(l_quantity) WHERE same part)`),
    * written directly in its decorrelated form (exactly what Catalyst
    * rewrites such subqueries into): a per-part mean aggregate joined
    * back to the fact table. The per-part aggregate and the join
    * share the l_partkey shuffle partitioning — one wide exchange
    * total; the mean is decimal-exact and the 0.2 threshold constant
    * is the same IEEE double on both engines (scientific notation in
    * the oracle so DuckDB can't route it through DECIMAL). */
  def qTpchQ17(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    val avgq = l.groupBy(col("l_partkey")).agg(Exact.dmean(col("l_quantity")).as("aq"))
    l.join(avgq, "l_partkey")
      .filter(col("l_quantity") < lit(0.2) * col("aq"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small"),
        Exact.dsum(col("l_extendedprice")).as("small_revenue"))
  }

  val qTpchQ17Sql: String =
    s"""WITH avgq AS (
       |  SELECT l_partkey, ${Exact.dmeanSql("l_quantity")} AS aq
       |  FROM lineitem GROUP BY 1)
       |SELECT p.p_brand, COUNT(*) AS n_small,
       |  ${Exact.dsumSql("l.l_extendedprice")} AS small_revenue
       |FROM lineitem l
       |JOIN avgq a ON a.l_partkey = l.l_partkey
       |JOIN part p ON l.l_partkey = p.p_partkey
       |WHERE l.l_quantity < 2e-1 * a.aq
       |GROUP BY 1""".stripMargin

  /** TPC-H Q5 shape (local-supplier revenue by nation): the classic
    * snowflake probe — region→nation filter chain BROADCASTS down the
    * dimension arms, orders carries the pushed date-range filter into
    * its scan, and the one big fact table (lineitem) joins customer
    * orders AND suppliers with the locality condition
    * c_nationkey = s_nationkey applied as a post-join predicate. At
    * 100 TB only lineitem⋈orders shuffles; every dimension side is
    * broadcast (plan-pinned). Revenue is floor-quantized
    * ([[Exact.qsum]]) like Q3. */
  def qTpchQ5(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val asia = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(spark, dir)
      .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val s = Tables.supplier(spark, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(Exact.qsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
  }

  val qTpchQ5Sql: String =
    s"""SELECT n.n_name,
       |  ${Exact.qsumSql("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |JOIN nation n ON s.s_nationkey = n.n_nationkey
       |JOIN region r ON n.n_regionkey = r.r_regionkey
       |WHERE r.r_name = 'ASIA'
       |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
       |  AND c.c_nationkey = s.s_nationkey
       |GROUP BY 1""".stripMargin

  /** TPC-H Q18 shape (large-volume customers): the group-HAVING
    * semi-join family — an aggregate-filtered key set gates the main
    * multi-join. The big-order key set comes from ONE l_orderkey
    * aggregation (quantities are small integral doubles, so the sum
    * is IEEE-exact under any order — no decimal detour needed); it
    * gates lineitem as a LEFT SEMI join sharing the same l_orderkey
    * shuffle partitioning as the outer per-order aggregation (AQE
    * reuses the exchange), then orders joins by key and the
    * customer dimension broadcasts. Global top-100 is orderBy+limit
    * → TakeOrderedAndProject. */
  def qTpchQ18(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity")
    val big = l.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sq"))
      .filter(col("sq") > 300.0)
      .select("l_orderkey")
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_name")
    l.join(big, Seq("l_orderkey"), "left_semi")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val qTpchQ18Sql: String =
    """SELECT c.c_name, c.c_custkey, o.o_orderkey,
      |  strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
      |  o.o_totalprice, s.sum_qty
      |FROM (
      |  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
      |  FROM lineitem
      |  WHERE l_orderkey IN (
      |    SELECT l_orderkey FROM lineitem
      |    GROUP BY l_orderkey HAVING SUM(l_quantity) > 300.0)
      |  GROUP BY l_orderkey) s
      |JOIN orders o ON s.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100""".stripMargin

  /** TPC-H Q10 shape (returned-item revenue): which customers cost us
    * the most in returns last quarter. Exercises the fact-filter →
    * two keyed shuffles → broadcast-dim → global top-k chain: the
    * returnflag filter cuts lineitem before its l_orderkey join with
    * the date-bounded orders slice, revenue aggregates on c_custkey
    * (the second and last shuffle), the customer dimension joins on
    * the same custkey (AQE reuses the exchange), nation broadcasts,
    * and the top-20 is orderBy+limit → TakeOrderedAndProject — no
    * global sort materializes. Revenue through the shared decimal
    * floor-quantized sum so the 32-partition partial order is
    * invisible; ties broken by c_custkey. Reference: the per-entity
    * "worst offenders" report over composites, monthly.py:340-380. */
  def qTpchQ10(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1996-04-01").cast("timestamp")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val c = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(Exact.qsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val qTpchQ10Sql: String =
    s"""SELECT c.c_custkey, c.c_name,
       |  ${Exact.qsumSql("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue,
       |  c.c_acctbal, n.n_name
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |JOIN nation n ON c.c_nationkey = n.n_nationkey
       |WHERE l.l_returnflag = 'R'
       |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o.o_orderdate < TIMESTAMP '1996-04-01'
       |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
       |ORDER BY revenue DESC, c.c_custkey LIMIT 20""".stripMargin

  /** TPC-H Q6 shape (forecast revenue change): the no-join scan-kernel
    * benchmark — every predicate is a scan-pushable range on one
    * table and the answer is ONE partially-aggregated row, so the
    * whole query is a single WholeStageCodegen span over the pruned
    * parquet scan (plan-pinned: all three filters in PushedFilters,
    * no shuffle beyond the 1-row final agg). The discount bounds are
    * written as exact-double literals on both engines (5e-2/7e-2 —
    * DuckDB parses bare 0.05 as DECIMAL, whose double conversion can
    * differ by an ulp). Revenue through the shared decimal
    * floor-quantized sum. */
  def qTpchQ6(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07)
      .filter(col("l_quantity") < 24.0)
      .agg(Exact.qsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val qTpchQ6Sql: String =
    s"""SELECT ${Exact.qsumSql("l_extendedprice * l_discount")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate < TIMESTAMP '1997-01-01'
       |  AND l_discount >= 5e-2 AND l_discount <= 7e-2
       |  AND l_quantity < 24.0""".stripMargin

  /** TPC-H Q14 shape (promotion effect): what share of a month's
    * revenue came from promo parts. The whole answer is one broadcast
    * join (part is the small dimension) over the date-pruned fact
    * scan plus ONE single-row aggregate — both conditional and total
    * revenue come out of the same partial agg, so the fact table is
    * read once and nothing but two accumulators crosses the wire.
    * The share is a single IEEE division of two floor-quantized exact
    * sums, identical on both engines. Adaptation: this corpus's
    * p_type vocabulary is single words, so the PROMO% prefix match is
    * an equality. */
  def qTpchQ14(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-03-01").cast("timestamp")
    val hi = lit("1996-04-01").cast("timestamp")
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val p = Tables.part(spark, dir).select("p_partkey", "p_type")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select("l_partkey", "l_extendedprice", "l_discount")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        Exact.qsum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))
          .as("promo_revenue"),
        Exact.qsum(rev).as("total_revenue"))
      .withColumn("promo_pct",
        lit(100.0) * col("promo_revenue") / col("total_revenue"))
  }

  val qTpchQ14Sql: String =
    s"""SELECT promo_revenue, total_revenue,
       |  100.0 * promo_revenue / total_revenue AS promo_pct
       |FROM (
       |  SELECT
       |    ${Exact.qsumSql("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1.0 - l.l_discount) ELSE 0.0 END")} AS promo_revenue,
       |    ${Exact.qsumSql("l.l_extendedprice * (1.0 - l.l_discount)")} AS total_revenue
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
       |    AND l.l_shipdate < TIMESTAMP '1996-04-01')""".stripMargin

  /** TPC-H Q4 shape (order-priority checking): count a quarter's
    * orders that have at least one qualifying lineitem — the EXISTS
    * correlated-subquery family. Spark expresses the EXISTS directly
    * as a LEFT SEMI join: the probe side deduplicates inside the
    * join (no distinct pass), both sides carry pushed scan filters,
    * and the only wide exchange keys on the order key. Adaptation:
    * this corpus has no commit/receipt dates, so "late" is proxied
    * by the returned flag — the join shape, not the predicate, is
    * the point. */
  def qTpchQ4(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1996-04-01").cast("timestamp")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_orderpriority")
    val ret = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey")
    o.join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  val qTpchQ4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1996-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_returnflag = 'R')
      |GROUP BY 1""".stripMargin

  /** TPC-H Q19 shape (discounted revenue under disjunctive
    * predicates): the OR-of-ANDs join family. The three arms share
    * the p_partkey equi-join (broadcast — part is the dimension), so
    * Catalyst keeps ONE hash join and evaluates the disjunction as a
    * post-join filter; only the fact-side conjunct common to all
    * arms (l_quantity <= 30) is pushable. One single-row
    * floor-quantized aggregate comes back. Adaptation: brand/size/
    * quantity arms only — this corpus has no p_container or
    * shipmode columns. */
  def qTpchQ19(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size")
    Tables.lineitem(spark, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1.0, 11.0)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10.0, 20.0)) ||
        (col("p_brand") === "Brand#24" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20.0, 30.0)))
      .agg(
        Exact.qsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val qTpchQ19Sql: String =
    s"""SELECT
       |  ${Exact.qsumSql("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       |       AND l.l_quantity BETWEEN 1.0 AND 11.0)
       |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       |       AND l.l_quantity BETWEEN 10.0 AND 20.0)
       |   OR (p.p_brand = 'Brand#24' AND p.p_size BETWEEN 1 AND 15
       |       AND l.l_quantity BETWEEN 20.0 AND 30.0)""".stripMargin

  /** TPC-H Q13 shape (customer order-count distribution): the
    * left-OUTER-join + count-of-counts histogram — the "customers
    * with zero orders" composition no inner-join query can express.
    * The defining trick is the predicate living in the JOIN CONDITION
    * (here: the right side filtered BEFORE the outer join — the same
    * plan), so a customer whose every order is filtered away survives
    * with a NULL order side and lands in the c_count=0 group (the
    * fixture produces that group — graded, not theoretical).
    * COUNT(o_orderkey) counts non-null matches only. Two keyed
    * shuffles total (custkey, then the tiny c_count regroup); at
    * 100 TB the outer join shuffles both sides on custkey and the
    * histogram regroup moves one row per customer-count. Adaptation:
    * this corpus has no o_comment — the priority filter stands in. */
  def qTpchQ13(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_orderkey", "o_custkey")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  val qTpchQ13Sql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      |  FROM customer c LEFT OUTER JOIN orders o
      |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      |  GROUP BY c.c_custkey)
      |GROUP BY c_count""".stripMargin

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the stacked
    * semi + anti SELF-join family — for each late line, ANOTHER
    * supplier must exist on the order (EXISTS → LEFT SEMI) and NO
    * other supplier may be late on it (NOT EXISTS → LEFT ANTI), both
    * self-joins on the order key with the supplier inequality as a
    * post-key filter. All three lineitem sides share the l_orderkey
    * shuffle partitioning; the supplier⋈nation dimension arm
    * broadcasts; top-100 is orderBy+limit → TakeOrderedAndProject.
    * Adaptation: no commit/receipt dates in this corpus, so "late" is
    * the returned flag (the q_tpch_q4 proxy), and the single-nation
    * filter keeps Q21's dimension-filter shape over this corpus's
    * synthetic nation names. */
  def qTpchQ21(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey", "l_returnflag")
    val late = l.filter(col("l_returnflag") === "R").select("l_orderkey", "l_suppkey")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F").select("o_orderkey")
    val others = l.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
    val lateOthers = late.select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
    val sn = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .filter(col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name")
    late.join(o, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(others,
        col("ok2") === col("l_orderkey") && col("sk2") =!= col("l_suppkey"), "left_semi")
      .join(lateOthers,
        col("ok3") === col("l_orderkey") && col("sk3") =!= col("l_suppkey"), "left_anti")
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  val qTpchQ21Sql: String =
    """WITH late AS (
      |  SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
      |base AS (
      |  SELECT l1.l_orderkey, l1.l_suppkey FROM late l1
      |  WHERE EXISTS (SELECT 1 FROM orders o
      |                WHERE o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F')
      |    AND EXISTS (SELECT 1 FROM lineitem l2
      |                WHERE l2.l_orderkey = l1.l_orderkey
      |                  AND l2.l_suppkey <> l1.l_suppkey)
      |    AND NOT EXISTS (SELECT 1 FROM late l3
      |                    WHERE l3.l_orderkey = l1.l_orderkey
      |                      AND l3.l_suppkey <> l1.l_suppkey))
      |SELECT s_name, numwait FROM (
      |  SELECT s.s_name, COUNT(*) AS numwait
      |  FROM base b
      |  JOIN supplier s ON s.s_suppkey = b.l_suppkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  WHERE n.n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
      |  GROUP BY s.s_name)
      |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin

  /** TPC-H Q22 shape (global-customers-without-orders histogram),
    * adapted to this schema: nationkey stands in for the phone prefix
    * (the original's SUBSTRING(c_phone, 1, 2) — this corpus carries no
    * phone column, the grouping-by-derived-prefix structure is what
    * matters). The three Q22 structural elements survive intact:
    * (1) a SCALAR subquery — the average positive balance over the
    * candidate set — broadcast to every row (a 1-row broadcast, the
    * intended singleton nested-loop, never a shuffled cartesian);
    * (2) an ANTI join against a filtered orders projection — here
    * "never placed an URGENT order" rather than "never ordered",
    * because this synthetic corpus gives every customer at least one
    * order (the original's no-orders arm would grade an empty set);
    * (3) the final keyed aggregation with an exact decimal-accumulated
    * balance total. At 100 TB: orders-side anti join shuffles on
    * custkey, threshold is one number, nothing else moves. */
  def qTpchQ22(spark: SparkSession, dir: String): DataFrame = {
    val inSet = Tables.customer(spark, dir)
      .filter(col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13))
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val thr = inSet.filter(col("c_acctbal") > 0.0)
      .agg(Exact.dmean(col("c_acctbal")).as("avg_bal"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    inSet.crossJoin(broadcast(thr))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        Exact.dsum(col("c_acctbal")).as("totacctbal"))
  }

  val qTpchQ22Sql: String =
    s"""WITH inset AS (
       |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
       |  WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
       |thr AS (
       |  SELECT ${Exact.dmeanSql("c_acctbal")} AS avg_bal
       |  FROM inset WHERE c_acctbal > 0.0)
       |SELECT c_nationkey, COUNT(*) AS numcust,
       |  ${Exact.dsumSql("c_acctbal")} AS totacctbal
       |FROM inset, thr
       |WHERE c_acctbal > avg_bal
       |  AND NOT EXISTS (SELECT 1 FROM orders o
       |                  WHERE o.o_custkey = inset.c_custkey
       |                    AND o.o_orderpriority = '1-URGENT')
       |GROUP BY c_nationkey""".stripMargin

  /** TPC-H Q2 shape (minimum-cost supplier): the correlated-extremum
    * family — `ps_supplycost = (SELECT min(ps_supplycost) ... WHERE
    * same part AND region)` — written directly in its decorrelated
    * form: the per-part minimum computed ONCE in a keyed aggregate and
    * joined back on partkey (the Q17 pattern, extremum instead of
    * mean). The reference runs the same correlated-extremum per month
    * ("closest image to mid-month", dw.py:108-137). This corpus has no
    * partsupp table, so the supply relation is derived from lineitem:
    * min unit price per (partkey, suppkey) — one extra keyed aggregate
    * upstream, same downstream shape. Scale shape: the part filter is
    * applied BEFORE the min-cost probe (a broadcast semi-join keeps
    * only surviving parts' supply rows), supplier/nation/region are
    * broadcast dimension arms, and `supply`→`mincost`→join-back all
    * share the partkey shuffle. min over doubles is order-independent,
    * and both engines evaluate the identical IEEE division, so the
    * `cost = min_cost` equality is deterministic. The final sort key
    * (acctbal, n_name, s_name, partkey) is unique per surviving
    * (part, supplier) pair and the 91-row result is under the LIMIT,
    * so the graded SET is order-free. */
  def qTpchQ2(spark: SparkSession, dir: String): DataFrame = {
    val europe = Tables.region(spark, dir).filter(col("r_name") === "EUROPE")
    val n = Tables.nation(spark, dir)
      .join(broadcast(europe), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val s = Tables.supplier(spark, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_acctbal"), col("s_name"), col("n_name"))
    val wantedParts = Tables.part(spark, dir)
      .filter(col("p_size") <= 15 && col("p_type") === "LARGE")
      .select("p_partkey", "p_type")
    val supply = Tables.lineitem(spark, dir)
      .join(broadcast(wantedParts.select("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("ps_supplycost"))
    val eligible = supply
      .join(broadcast(s), col("ps_suppkey") === col("s_suppkey"))
    val mincost = eligible.groupBy(col("ps_partkey").as("mk"))
      .agg(min(col("ps_supplycost")).as("min_cost"))
    eligible
      .join(mincost, col("ps_partkey") === col("mk") &&
        col("ps_supplycost") === col("min_cost"))
      .join(broadcast(wantedParts), col("ps_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_type"), col("ps_supplycost").as("supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  val qTpchQ2Sql: String =
    """WITH supply AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         MIN(l_extendedprice / l_quantity) AS ps_supplycost
      |  FROM lineitem GROUP BY 1, 2),
      |eligible AS (
      |  SELECT sp.ps_partkey, sp.ps_suppkey, sp.ps_supplycost,
      |         s.s_acctbal, s.s_name, n.n_name
      |  FROM supply sp
      |  JOIN supplier s ON sp.ps_suppkey = s.s_suppkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  WHERE r.r_name = 'EUROPE'),
      |mincost AS (
      |  SELECT ps_partkey, MIN(ps_supplycost) AS min_cost
      |  FROM eligible GROUP BY 1)
      |SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_type,
      |       e.ps_supplycost AS supplycost
      |FROM eligible e
      |JOIN mincost m ON e.ps_partkey = m.ps_partkey
      |              AND e.ps_supplycost = m.min_cost
      |JOIN part p ON e.ps_partkey = p.p_partkey
      |WHERE p.p_size <= 15 AND p.p_type = 'LARGE'
      |ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
      |LIMIT 100""".stripMargin

  /** TPC-H Q15 shape (top-revenue supplier): the
    * aggregate-of-aggregate family — a revenue VIEW (per-supplier sum
    * over a shipdate year) whose MAX selects the winners:
    * `total_revenue = (SELECT max(total_revenue) FROM revenue)`.
    * Decorrelated form: the revenue aggregate is computed ONCE
    * (one l_suppkey shuffle), its max reduces to a single-row
    * broadcast (the Q22 scalar pattern), and the equality filter
    * re-reads the SAME materialized aggregate — Spark's plan reuses
    * the exchange rather than recomputing the view, which is the
    * whole point of the Q15 rewrite. Revenue is floor-quantized
    * ([[Exact.qsum]]) so max-equality is integer-exact on both
    * engines. Supplier is a broadcast dim. */
  def qTpchQ15(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val revenue = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(Exact.qsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("total_revenue"))
    val mx = revenue.agg(max(col("total_revenue")).as("max_revenue"))
    revenue.crossJoin(broadcast(mx))
      .filter(col("total_revenue") === col("max_revenue"))
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_name")),
        col("supplier_no") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  val qTpchQ15Sql: String =
    s"""WITH revenue AS (
       |  SELECT l_suppkey AS supplier_no,
       |    ${Exact.qsumSql("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate < TIMESTAMP '1997-01-01'
       |  GROUP BY 1),
       |mx AS (SELECT MAX(total_revenue) AS max_revenue FROM revenue)
       |SELECT s.s_suppkey, s.s_name, r.total_revenue
       |FROM revenue r
       |JOIN supplier s ON r.supplier_no = s.s_suppkey
       |CROSS JOIN mx
       |WHERE r.total_revenue = mx.max_revenue""".stripMargin

  /** TPC-H Q20 shape (excess inventory): the hardest classic
    * decorrelation stress test — a nested correlated-aggregate
    * threshold `ps_availqty > 0.5 * (SELECT sum(l_quantity) WHERE
    * same part AND supplier AND year)` feeding a DOUBLE semi-join
    * (partsupp→supplier→nation). This corpus has no partsupp, so
    * availability is derived from lineitem's full history per
    * (partkey, suppkey). That derivation makes the decorrelated plan
    * collapse further: availqty and the 1997 threshold are computed
    * in ONE aggregation pass over lineitem (conditional sum), so the
    * threshold compare is a per-row filter on the aggregate output —
    * zero join-back, one lineitem shuffle total, vs the textbook
    * rewrite's aggregate + keyed re-join. The part filter gates via a
    * broadcast semi-join BEFORE the shuffle; the surviving supplier
    * keys semi-join the (nation-filtered, broadcast) supplier dim.
    * Both quantity sums are decimal-exact ([[Exact.dsum]]) so the
    * 0.5× threshold compare cannot flip on accumulation order. The
    * `qty_1997 IS NOT NULL` guard reproduces the oracle's inner join
    * of the two aggregates. */
  def qTpchQ20(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1997-01-01").cast("timestamp")
    val hi = lit("1998-01-01").cast("timestamp")
    val smallParts = Tables.part(spark, dir)
      .filter(col("p_type") === "SMALL").select("p_partkey")
    val excess = Tables.lineitem(spark, dir)
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(
        Exact.dsum(col("l_quantity")).as("ps_availqty"),
        Exact.dsum(when(col("l_shipdate") >= lo && col("l_shipdate") < hi,
          col("l_quantity"))).as("qty_1997"))
      .filter(col("qty_1997").isNotNull &&
        col("ps_availqty") > lit(0.5) * col("qty_1997"))
      .select(col("l_suppkey")).distinct()
    val europe = Tables.region(spark, dir).filter(col("r_name") === "EUROPE")
    val n = Tables.nation(spark, dir)
      .join(broadcast(europe), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey")
    Tables.supplier(spark, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"), col("s_acctbal"))
  }

  val qTpchQ20Sql: String =
    s"""WITH supply AS (
       |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
       |    ${Exact.dsumSql("l_quantity")} AS ps_availqty
       |  FROM lineitem GROUP BY 1, 2),
       |shipped AS (
       |  SELECT l_partkey, l_suppkey,
       |    ${Exact.dsumSql("l_quantity")} AS qty_1997
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
       |    AND l_shipdate < TIMESTAMP '1998-01-01'
       |  GROUP BY 1, 2),
       |excess AS (
       |  SELECT sp.ps_suppkey
       |  FROM supply sp
       |  JOIN shipped sh ON sp.ps_partkey = sh.l_partkey
       |                 AND sp.ps_suppkey = sh.l_suppkey
       |  WHERE sp.ps_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'SMALL')
       |    AND sp.ps_availqty > 0.5 * sh.qty_1997
       |  GROUP BY 1)
       |SELECT s.s_name, s.s_acctbal
       |FROM supplier s
       |JOIN nation n ON s.s_nationkey = n.n_nationkey
       |JOIN region r ON n.n_regionkey = r.r_regionkey
       |WHERE r.r_name = 'EUROPE'
       |  AND s.s_suppkey IN (SELECT ps_suppkey FROM excess)""".stripMargin

  /** TPC-H Q1, the full pricing-summary report (q1_agg is the
    * flagship's Q1-ish composite; this is the real 8-aggregate
    * shape): one scan, one grouped aggregation over
    * (returnflag, linestatus), every sum decimal-exact or
    * floor-quantized so the hash compare survives any partitioning.
    * The date filter pushes into the parquet scan. The single
    * full-table aggregate IS the plan at any scale — partial
    * aggregation map-side, one exchange on the 6-value group key. */
  def qTpchQ1(spark: SparkSession, dir: String): DataFrame = {
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Exact.dsum(col("l_quantity")).as("sum_qty"),
        Exact.dsum(col("l_extendedprice")).as("sum_base_price"),
        Exact.qsum(disc).as("sum_disc_price"),
        Exact.qsum(disc * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        Exact.dmean(col("l_quantity")).as("avg_qty"),
        Exact.dmean(col("l_extendedprice")).as("avg_price"),
        Exact.dmean(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  val qTpchQ1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${Exact.dsumSql("l_quantity")} AS sum_qty,
       |  ${Exact.dsumSql("l_extendedprice")} AS sum_base_price,
       |  ${Exact.qsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${Exact.qsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       |  ${Exact.dmeanSql("l_quantity")} AS avg_qty,
       |  ${Exact.dmeanSql("l_extendedprice")} AS avg_price,
       |  ${Exact.dmeanSql("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
       |GROUP BY 1, 2""".stripMargin

  /** TPC-H Q7 shape (volume shipping between two nations): the
    * symmetric-nation-pair disjunction over a 4-table fact chain.
    * Both nation dims broadcast with the OR-of-pairs predicate applied
    * post-join; the shipdate range is pushed to the lineitem scan; the
    * only wide shuffle is lineitem⋈orders. Revenue is floor-quantized
    * ([[Exact.qsum]]) per (supp_nation, cust_nation, year) group. */
  def qTpchQ7(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1998-01-01").cast("timestamp")
    val n1 = Tables.nation(spark, dir).select(
      col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir).select(
      col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("nk1"))
      .join(broadcast(n2), col("c_nationkey") === col("nk2"))
      .filter(
        (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(Exact.qsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
  }

  val qTpchQ7Sql: String =
    s"""SELECT supp_nation, cust_nation, l_year,
       |  ${Exact.qsumSql("volume")} AS revenue
       |FROM (
       |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |    CAST(year(l.l_shipdate) AS INT) AS l_year,
       |    l.l_extendedprice * (1.0 - l.l_discount) AS volume
       |  FROM lineitem l
       |  JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  JOIN customer c ON c.c_custkey = o.o_custkey
       |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
       |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
       |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
       |    AND l.l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l.l_shipdate < TIMESTAMP '1998-01-01')
       |GROUP BY 1, 2, 3""".stripMargin

  /** TPC-H Q8 shape (national market share): the conditional-share
    * aggregate — one snowflake probe computes BOTH the focal nation's
    * volume and the total in a single grouped pass (two quantized
    * conditional sums), and the share is one IEEE division of the
    * two. All dimension arms broadcast; the orderdate range pushes to
    * the orders scan. */
  def qTpchQ8(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1998-01-01").cast("timestamp")
    val europe = Tables.region(spark, dir).filter(col("r_name") === "EUROPE")
    val custN = Tables.nation(spark, dir)
      .join(broadcast(europe), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cnk"))
    val suppN = Tables.nation(spark, dir).select(
      col("n_nationkey").as("snk"), col("n_name").as("nation"))
    val p = Tables.part(spark, dir).filter(col("p_type") === "LARGE")
      .select("p_partkey")
    val volume = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(custN), col("c_nationkey") === col("cnk"), "left_semi")
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppN), col("s_nationkey") === col("snk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        (Exact.qsum(when(col("nation") === "NATION_7", volume).otherwise(lit(0.0))) /
          Exact.qsum(volume)).as("mkt_share"))
  }

  val qTpchQ8Sql: String =
    s"""SELECT o_year,
       |  ${Exact.qsumSql("CASE WHEN nation = 'NATION_7' THEN volume ELSE 0.0 END")}
       |    / ${Exact.qsumSql("volume")} AS mkt_share
       |FROM (
       |  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
       |    l.l_extendedprice * (1.0 - l.l_discount) AS volume,
       |    n2.n_name AS nation
       |  FROM lineitem l
       |  JOIN part p ON p.p_partkey = l.l_partkey
       |  JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN customer c ON c.c_custkey = o.o_custkey
       |  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
       |  JOIN region r ON n1.n_regionkey = r.r_regionkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
       |  WHERE r.r_name = 'EUROPE' AND p.p_type = 'LARGE'
       |    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
       |    AND o.o_orderdate < TIMESTAMP '1998-01-01')
       |GROUP BY 1""".stripMargin

  /** TPC-H Q9 shape (product-type profit): profit = revenue − supply
    * cost per line, aggregated by (nation, year). This corpus has no
    * partsupp, so supply cost derives from lineitem (min unit price
    * per (partkey, suppkey) — the Q2 derivation); the join back is
    * keyed on the SAME composite key as the derivation's aggregate,
    * so the two share one exchange. The part-name filter gates via a
    * broadcast semi-join before anything shuffles; per-row profit is
    * bit-exact cross-engine (one multiply-subtract chain over
    * identical doubles) and the group sum is floor-quantized. */
  def qTpchQ9(spark: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(spark, dir)
      .filter(col("p_name").like("%red%")).select("p_partkey")
    val l = Tables.lineitem(spark, dir)
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"), "left_semi")
    val supply = l.groupBy(
        col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("ps_supplycost"))
    val sn = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    l.select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .join(supply, col("l_partkey") === col("ps_partkey") &&
        col("l_suppkey") === col("ps_suppkey"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(Exact.qsum(
        col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
          col("ps_supplycost") * col("l_quantity")).as("sum_profit"))
  }

  val qTpchQ9Sql: String =
    s"""WITH supply AS (
       |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
       |         MIN(l_extendedprice / l_quantity) AS ps_supplycost
       |  FROM lineitem
       |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
       |  GROUP BY 1, 2)
       |SELECT nation, o_year, ${Exact.qsumSql("amount")} AS sum_profit
       |FROM (
       |  SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
       |    l.l_extendedprice * (1.0 - l.l_discount)
       |      - sp.ps_supplycost * l.l_quantity AS amount
       |  FROM lineitem l
       |  JOIN part p ON p.p_partkey = l.l_partkey
       |  JOIN supply sp ON sp.ps_partkey = l.l_partkey
       |                AND sp.ps_suppkey = l.l_suppkey
       |  JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  JOIN nation n ON s.s_nationkey = n.n_nationkey
       |  WHERE p.p_name LIKE '%red%')
       |GROUP BY 1, 2""".stripMargin

  /** TPC-H Q11 shape (important stock): per-part inventory value
    * gated by a FRACTION of the scoped total — the
    * scalar-threshold-over-grouped-sums family. Supply (availqty +
    * unit cost) derives from lineitem; the nation scope applies as a
    * broadcast join BEFORE the per-part aggregate; the total is a
    * 1-row aggregate of the same scoped rows broadcast back (the Q22
    * singleton). Both sides quantize identically: availqty is
    * decimal-exact, the value sum floor-quantized, the cutoff one
    * IEEE multiply. */
  def qTpchQ11(spark: SparkSession, dir: String): DataFrame = {
    val natSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .filter(col("n_name") === "NATION_9")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val scoped = Tables.lineitem(spark, dir)
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(
        Exact.dsum(col("l_quantity")).as("ps_availqty"),
        min(col("l_extendedprice") / col("l_quantity")).as("ps_supplycost"))
      .withColumn("v", col("ps_supplycost") * col("ps_availqty"))
    val byPart = scoped.groupBy(col("ps_partkey"))
      .agg(Exact.qsum(col("v")).as("value"))
    // scale-invariant cutoff: 2.3× the mean per-part value (TPC-H's
    // FRACTION scales 1/SF for exactly this reason — a fixed fraction
    // of the total selects nothing once the corpus grows 10×)
    val thr = scoped.agg((Exact.qsum(col("v")) * lit(2.3) /
      countDistinct(col("ps_partkey"))).as("cutoff"))
    byPart.crossJoin(broadcast(thr))
      .filter(col("value") > col("cutoff"))
      .select("ps_partkey", "value")
  }

  val qTpchQ11Sql: String =
    s"""WITH scoped AS (
       |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
       |    ${Exact.dsumSql("l_quantity")} AS ps_availqty,
       |    MIN(l_extendedprice / l_quantity) AS ps_supplycost
       |  FROM lineitem
       |  WHERE l_suppkey IN (
       |    SELECT s_suppkey FROM supplier s
       |    JOIN nation n ON s.s_nationkey = n.n_nationkey
       |    WHERE n.n_name = 'NATION_9')
       |  GROUP BY 1, 2),
       |vals AS (
       |  SELECT ps_partkey, ps_supplycost * ps_availqty AS v FROM scoped),
       |byp AS (
       |  SELECT ps_partkey, ${Exact.qsumSql("v")} AS value
       |  FROM vals GROUP BY 1),
       |thr AS (SELECT ${Exact.qsumSql("v")} * 2.3e0
       |          / COUNT(DISTINCT ps_partkey) AS cutoff FROM vals)
       |SELECT b.ps_partkey, b.value
       |FROM byp b CROSS JOIN thr t
       |WHERE b.value > t.cutoff""".stripMargin

  /** TPC-H Q16 shape (parts/supplier relationship): distinct-supplier
    * counts per part descriptor, with a NOT-IN supplier exclusion.
    * The supply relation is the distinct (partkey, suppkey) projection
    * of lineitem (one shuffle); the exclusion list (negative-balance
    * suppliers — standing in for the original's complaints filter) is
    * a broadcast ANTI join; part attribute filters apply before the
    * broadcast join. COUNT(DISTINCT) re-shuffles on the group keys —
    * two exchanges total at any scale. */
  def qTpchQ16(spark: SparkSession, dir: String): DataFrame = {
    val badSupp = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0.0).select("s_suppkey")
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#9" && col("p_type") =!= "SMALL" &&
        col("p_size") <= 25)
      .select("p_partkey", "p_brand", "p_type", "p_size")
    Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .distinct()
      .join(broadcast(badSupp), col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
  }

  val qTpchQ16Sql: String =
    """WITH supply AS (
      |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      |  FROM lineitem)
      |SELECT p.p_brand, p.p_type, p.p_size,
      |  CAST(COUNT(DISTINCT sp.ps_suppkey) AS BIGINT) AS supplier_cnt
      |FROM supply sp
      |JOIN part p ON p.p_partkey = sp.ps_partkey
      |WHERE p.p_brand <> 'Brand#9' AND p.p_type <> 'SMALL' AND p.p_size <= 25
      |  AND sp.ps_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      |GROUP BY 1, 2, 3""".stripMargin

  /** TPC-H Q12 shape (shipping-mode priority split) — the last of the
    * 22 classic shapes: a fact-to-fact keyed join where the GROUP BY
    * key lives on one side (lineitem's ship mode) and the CASE split
    * lives on the other (orders' priority). Both sides are facts at
    * scale, so the plan is a single orderkey-keyed shuffle join — the
    * orders side carries only (key, priority), nothing else crosses
    * the wire — followed by a two-row hash agg whose high/low counts
    * come out of ONE pass (conditional sums, not two joins).
    * Adaptation: this corpus has no l_shipmode/commitdate/receiptdate
    * columns, so ship mode is a deterministic key-derived label
    * (suppkey mod 3 → MAIL/SHIP/AIR, filtered to MAIL/SHIP exactly as
    * Q12 does) and the receipt-year window is the shipdate year; the
    * late-commit chain is out of reach of this schema (same gap noted
    * at [[qTpchQ4]]) — the join/agg shape is the point. */
  def qTpchQ12(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val modes = array(lit("MAIL"), lit("SHIP"), lit("AIR"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .withColumn("ship_mode",
        element_at(modes, pmod(col("l_suppkey"), lit(3)).cast("int") + 1))
      .filter(col("ship_mode").isin("MAIL", "SHIP"))
      .select("l_orderkey", "ship_mode")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority")
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("ship_mode"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
  }

  val qTpchQ12Sql: String =
    """SELECT (['MAIL','SHIP','AIR'])[CAST(l_suppkey % 3 AS INT) + 1] AS ship_mode,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS low_line_count
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l.l_shipdate < TIMESTAMP '1997-01-01'
      |  AND (['MAIL','SHIP','AIR'])[CAST(l_suppkey % 3 AS INT) + 1] IN ('MAIL','SHIP')
      |GROUP BY 1""".stripMargin

  /** Ratio-to-parent hierarchy report: each nation's revenue share of
    * its region — the percent-of-parent OLAP shape (one keyed
    * aggregation to the leaf level, one region-keyed window for the
    * parent total, one division). Revenue sums are exact decimal;
    * the share divides the two exact doubles once. The region window
    * partitions on the 5-value region key — bounded fan-in because
    * the window input is the 25-row nation aggregate, not the fact
    * table. */
  def qShareOfRegion(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"), col("o_totalprice"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val r = Tables.region(spark, dir).select(col("r_regionkey"), col("r_name"))
    val byNation = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(Exact.dsum(col("o_totalprice")).as("nation_rev"))
    val wReg = Window.partitionBy(col("r_name"))
    byNation
      .withColumn("region_rev",
        sum(col("nation_rev").cast(Exact.Dec)).over(wReg).cast("double"))
      .withColumn("share", col("nation_rev") / col("region_rev"))
      .select("r_name", "n_name", "nation_rev", "region_rev", "share")
  }

  val qShareOfRegionSql: String =
    s"""WITH by_nation AS (
       |  SELECT r.r_name, n.n_name,
       |    ${Exact.dsumSql("o.o_totalprice")} AS nation_rev
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  JOIN region r ON n.n_regionkey = r.r_regionkey
       |  GROUP BY 1, 2)
       |SELECT r_name, n_name, nation_rev,
       |  CAST(SUM(CAST(nation_rev AS DECIMAL(25,6))) OVER (PARTITION BY r_name)
       |    AS DOUBLE) AS region_rev,
       |  nation_rev / CAST(SUM(CAST(nation_rev AS DECIMAL(25,6)))
       |    OVER (PARTITION BY r_name) AS DOUBLE) AS share
       |FROM by_nation""".stripMargin

  /** NULL-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the
    * join-semantics member plain equi-joins can't express: NULL keys
    * MATCH each other instead of vanishing. Dirty dimension keys
    * (here: customers whose phone prefix parses to NULL) still join
    * to the NULL bucket of the reference table. Spark plans `<=>` as
    * a hash join (null-safe keys hash like values) — still keyed,
    * never a nested loop. */
  def qNullsafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .withColumn("seg",
        when(col("c_acctbal") >= 0, col("c_mktsegment"))
          .otherwise(lit(null).cast("string")))
    val refTable = Tables.customer(spark, dir)
      .withColumn("seg",
        when(col("c_acctbal") >= 0, col("c_mktsegment"))
          .otherwise(lit(null).cast("string")))
      .groupBy(col("seg")).agg(count(lit(1)).as("seg_total"))
    cust.join(refTable, cust("seg") <=> refTable("seg"))
      .groupBy(cust("seg").as("seg"))
      .agg(count(lit(1)).as("n"), first(col("seg_total")).as("seg_total"))
  }

  val qNullsafeJoinSql: String =
    """WITH c AS (
      |  SELECT CASE WHEN c_acctbal >= 0 THEN c_mktsegment END AS seg
      |  FROM customer),
      |ref AS (SELECT seg, COUNT(*) AS seg_total FROM c GROUP BY seg)
      |SELECT c.seg, COUNT(*) AS n, ANY_VALUE(ref.seg_total) AS seg_total
      |FROM c JOIN ref ON c.seg IS NOT DISTINCT FROM ref.seg
      |GROUP BY c.seg""".stripMargin

  /** The graded sketch tier (SURVEY §2.4's 100 TB distinct path —
    * closing the "spec-only" gap on [[graft.operators.Sketches]]):
    * exact aggregates and their sketch counterparts run side by side,
    * and the OUTPUT is the error-bound verdict, which IS
    * deterministic even though the sketch values aren't
    * oracle-reproducible: approx_count_distinct must land within 3×
    * its 5% configured rsd (floored at ±1 for tiny groups), and
    * percentile_approx(accuracy=10000) must land between the exact
    * quantiles at 0.5∓0.01 — a 100× margin over its guaranteed
    * 1/accuracy rank error (the slack absorbs interpolation edge
    * effects; a broken sketch still lands far outside). The oracle
    * asserts exact counts + literal TRUE: a sketch drifting out of
    * its documented bound fails the hash. Both sketches are
    * single-pass, mergeable, bounded-memory — the shapes that replace
    * exact distinct/percentile shuffles at corpus scale. */
  def qDistinctApprox(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_distinct"),
        approx_count_distinct(col("user_id"), 0.05).as("ad"),
        percentile(col("value"), array(lit(0.49), lit(0.51))).as("p"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("pa"))
      .select(col("event_type"), col("exact_distinct"),
        (abs(col("ad") - col("exact_distinct")) <=
          greatest(lit(0.15) * col("exact_distinct"), lit(1.0)))
          .as("distinct_within_bound"),
        (col("pa") >= col("p").getItem(0) && col("pa") <= col("p").getItem(1))
          .as("p50_within_bound"))
  }

  val qDistinctApproxSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct,
      |  TRUE AS distinct_within_bound, TRUE AS p50_within_bound
      |FROM events GROUP BY event_type""".stripMargin

  /** The quantile-sketch tier graded across the distribution, not just
    * the median: percentile_approx (KLL/GK-style mergeable summary,
    * accuracy=10000 ⇒ rank error ≤ 1e-4) at six quantiles per group,
    * each gated inside the exact [q−0.01, q+0.01] percentile bracket —
    * a deterministic boolean the oracle pins TRUE, so a sketch
    * regression (or a merge that loses the rank-error guarantee)
    * flips a hash-graded cell. The 100 TB story: the sketch is
    * single-pass and partition-mergeable where exact percentiles cost
    * a full sort per group; this query IS the calibration harness that
    * justifies switching. */
  def qQuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val qs = Seq("10" -> 0.10, "25" -> 0.25, "50" -> 0.50,
      "75" -> 0.75, "90" -> 0.90, "99" -> 0.99)
    // one exact buffer holds the [q-0.01, q+0.01] bracket of every q
    // (items 2i, 2i+1) and one sketch answers every q (item i)
    val brackets = qs.flatMap { case (_, q) =>
      Seq(math.max(q - 0.01, 0.0), math.min(q + 0.01, 1.0)) }
    val checks = qs.zipWithIndex.map { case ((tag, _), i) =>
      val pa = col("pa").getItem(i)
      (pa >= col("p").getItem(2 * i) && pa <= col("p").getItem(2 * i + 1))
        .as(s"within_q$tag")
    }
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        percentile(col("value"), array(brackets.map(lit): _*)).as("p"),
        percentile_approx(col("value"), array(qs.map(q => lit(q._2)): _*),
          lit(10000)).as("pa"))
      .select(col("event_type") +: col("n") +: checks: _*)
  }

  val qQuantileSketchSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  TRUE AS within_q10, TRUE AS within_q25, TRUE AS within_q50,
      |  TRUE AS within_q75, TRUE AS within_q90, TRUE AS within_q99
      |FROM events GROUP BY event_type""".stripMargin

  def qSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .withColumn("tag", lit("has_orders"))
    val noOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .withColumn("tag", lit("no_orders"))
    withOrders.unionByName(noOrders)
  }

  val qSemiAntiSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n, 'has_orders' AS tag
      |FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
      |GROUP BY c_mktsegment
      |UNION ALL
      |SELECT c_mktsegment, COUNT(*) AS n, 'no_orders' AS tag
      |FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
      |GROUP BY c_mktsegment""".stripMargin

  /** Top-k per group via rank window (KNN/top-k shape, SURVEY §2.6;
    * dw.py:126-131 sort+first). Deterministic tie-break on key. */
  def qTopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
  }

  val qTopkPerGroupSql: String =
    """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) WHERE rk <= 3""".stripMargin

  /** Frame-spec analytics: running sum (decimal-exact) + lag
    * (SURVEY §2.5 last row). */
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("user_id") < 5)
      .withColumn("running_value",
        sum(col("value").cast(Dec)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("double"))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .select("user_id", "event_id", "value", "running_value", "prev_value")
  }

  val qWindowRunningSql: String =
    """SELECT user_id, event_id, value,
      |  CAST(SUM(CAST(value AS DECIMAL(25,6)))
      |       OVER (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |       AS DOUBLE) AS running_value,
      |  LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
      |FROM events WHERE user_id < 5""".stripMargin

  /** Monthly median composite — the reference's core temporal composite
    * (`collection.median()` per month, monthly.py:256,288): tumbling
    * month window + exact percentile (SURVEY §2.4/§2.5). */
  def qMonthlyMedian(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM").as("month"))
      .agg(percentile(col("value"), lit(0.5)).as("median_value"),
           count(lit(1)).as("n_obs"))
  }

  val qMonthlyMedianSql: String =
    """SELECT user_id, strftime(ts, '%Y-%m') AS month,
      |  quantile_cont(value, 0.5) AS median_value,
      |  COUNT(*) AS n_obs
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Mode composite (majority class per group, monthly.py:578) with a
    * deterministic tie-break: highest count, then lexicographically
    * smallest class — same rule on both engines (SURVEY §2.4). */
  def qModeComposite(spark: SparkSession, dir: String): DataFrame = {
    val counted = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("cnt").desc, col("event_type"))
    counted.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("mode_type"), col("cnt"))
  }

  val qModeCompositeSql: String =
    """SELECT user_id, event_type AS mode_type, cnt FROM (
      |  SELECT user_id, event_type, COUNT(*) AS cnt,
      |         ROW_NUMBER() OVER (PARTITION BY user_id
      |                            ORDER BY COUNT(*) DESC, event_type) AS rk
      |  FROM events GROUP BY user_id, event_type) WHERE rk = 1""".stripMargin

  /** First (earliest) composite — `collection.first()`
    * (monthly.py:230): row_number over event time, deterministic via
    * event_id tie-break (SURVEY §2.4). */
  def qFirstComposite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_id").as("first_event"),
              col("event_type").as("first_type"), col("value").as("first_value"))
  }

  val qFirstCompositeSql: String =
    """SELECT user_id, event_id AS first_event, event_type AS first_type,
      |       value AS first_value FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |                               ORDER BY ts, event_id) AS rk
      |  FROM events) WHERE rk = 1""".stripMargin

  /** Set operations: INTERSECT / EXCEPT as a tagged union
    * (SURVEY §2.7). */
  def qSetops(spark: SparkSession, dir: String): DataFrame = {
    val cn = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val sn = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    cn.intersect(sn).withColumn("tag", lit("both"))
      .unionByName(cn.except(sn).withColumn("tag", lit("customer_only")))
  }

  val qSetopsSql: String =
    """SELECT nationkey, 'both' AS tag FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  INTERSECT SELECT s_nationkey FROM supplier)
      |UNION ALL
      |SELECT nationkey, 'customer_only' AS tag FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  EXCEPT SELECT s_nationkey FROM supplier)""".stripMargin

  /** Exact distinct counts (SURVEY §2.4 distinct row; the
    * `approx_count_distinct` sketch variant is the 100 TB path, kept in
    * the library — exact here for the oracle). */
  def qDistinct(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
           count(lit(1)).as("n_events"))
  }

  val qDistinctSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
      |       COUNT(*) AS n_events
      |FROM events GROUP BY event_type""".stripMargin

  /** Histogram / range-bucket counts (notebook/rice.ipynb rh98 buckets,
    * SURVEY §2.4): fixed-width buckets via floor division. */
  def qHistogram(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(floor(col("value") / 50).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  val qHistogramSql: String =
    """SELECT CAST(FLOOR(value / 50) AS BIGINT) AS bucket, COUNT(*) AS n
      |FROM events GROUP BY 1""".stripMargin

  /** Global sort + limit with fully deterministic key
    * (SURVEY §2.6). */
  def qSortLimit(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
  }

  val qSortLimitSql: String =
    """SELECT o_orderkey, o_totalprice, o_orderpriority
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** Grouping sets / rollup (SURVEY §2.4 last row — OLAP surface the
    * reference lacks but the engine provides). */
  def qRollup(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
  }

  val qRollupSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty, COUNT(*) AS n
       |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** Chain depth of the scaling probe: 64 md5 rounds per lineitem row
    * makes per-row CPU the dominant cost at sf0.1 (≈38 M digests), so
    * the query's wall time tracks usable cores — the one declared
    * query whose 8-vs-32-core bench ratio can DEMONSTRATE the
    * $SPARK_GRAFT_CPUS contract (everything else at sf0.1 sits on the
    * per-job scheduling floor where core count is invisible).
    * Depth picked by measurement: the sf0.1 lineitem parquet is ONE
    * row group, so its scan stage is an unsplittable single task —
    * with plan/schedule overhead that is a core-invariant ~1.1 s
    * floor, and the 8v32 ratio asymptotes well below the 4× core
    * ratio: ratio(d) ≈ (1.13 + 0.02d)/(1.13 + 0.005d) → d=64 gives
    * 1.6 (too near the ±0.3 noise band), d=128 gives ~2.1 at a
    * ~1.8 s warm bench cost — the chosen point; doublings beyond
    * buy ~+0.5 ratio per +2.5 s of bench. */
  private val ScalingProbeDepth = 128

  /** Core-scaling probe — an embarrassingly parallel per-row digest
    * chain over the full lineitem table, bucketed by the final hash's
    * first hex digit (bounded 16-row output, exact integer sums).
    *
    * Shape notes (guide §2): the explicit
    * `repartition(defaultParallelism, k)` derives the stage's task
    * count from the cluster size, never a constant — on local[n] that
    * is n, on a cluster executors × cores — and an explicit-N
    * repartition is exempt from AQE partition coalescing, which would
    * otherwise pack this small shuffle (~10 MB) into a handful of
    * tasks and serialize the chain compute regardless of cores. Every
    * run computes the full chain from the parquet input — nothing is
    * cached or memoized. */
  def qScalingProbe(spark: SparkSession, dir: String): DataFrame = {
    val k = concat(lit("sp|"), col("l_orderkey").cast("string"), lit("|"),
      col("l_linenumber").cast("string"))
    def chainOf(start: org.apache.spark.sql.Column,
        rounds: Int): org.apache.spark.sql.Column =
      (1 to rounds).foldLeft(start)((c, _) => md5(c))
    // shuffle the two INTEGER keys, not the derived string: the
    // single-file scan stage is one task (a serial floor), so all
    // per-row work — key string + digest chain — runs AFTER the
    // exchange, where task count tracks defaultParallelism. The chain
    // is chunked into shallow 16-round projections: the analyzer
    // resolves ~one nesting level per Resolution iteration (cap 100)
    // and its per-select cost grows quadratically with nesting depth,
    // while the optimizer collapses the chunks back into ONE codegen'd
    // projection — same executed plan, a fraction of the plan time.
    val shuffled = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"))
      .repartition(spark.sparkContext.defaultParallelism,
        col("l_orderkey"), col("l_linenumber"))
      .select(chainOf(k, 16).as("h"))
    (1 to (ScalingProbeDepth / 16 - 1)).foldLeft(shuffled)(
        (df, _) => df.select(chainOf(col("h"), 16).as("h")))
      .groupBy(substring(col("h"), 1, 1).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(conv(substring(col("h"), 1, 8), 16, 10).cast("long")).as("hsum"))
  }

  val qScalingProbeSql: String = {
    val inner = "'sp|' || CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)"
    def chain(start: String, rounds: Int): String =
      (1 to rounds).foldLeft(start)((c, _) => s"md5($c)")
    // 16 rounds per CTE: DuckDB's binder caps expression nesting at 128
    val nCtes = ScalingProbeDepth / 16
    val ctes = (1 until nCtes).map(i =>
      s"h$i AS (SELECT ${chain("h", 16)} AS h FROM h${i - 1})").mkString(",\n")
    // 8-hex-digit Horner fold — the q_simhash oracle's h32 idiom
    s"""WITH h0 AS (SELECT ${chain(inner, 16)} AS h FROM lineitem),
       |$ctes
       |SELECT substr(h, 1, 1) AS bucket, COUNT(*) AS n,
       |  CAST(SUM(list_reduce(list_transform(range(8),
       |    i -> CAST(strpos('0123456789abcdef', substr(h, i+1, 1)) - 1 AS BIGINT)),
       |    (a, d) -> a * 16 + d)) AS BIGINT) AS hsum
       |FROM h${nCtes - 1} GROUP BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scaling_probe" -> (qScalingProbe _),
    "q1_agg" -> (q1Agg _),
    "q_filter_predicates" -> (qFilterPredicates _),
    "q_bitmask_qa" -> (qBitmaskQa _),
    "q_join_star" -> (qJoinStar _),
    "q_join_outer" -> (qJoinOuter _),
    "q_semi_anti" -> (qSemiAnti _),
    "q_tpch_q3" -> (qTpchQ3 _),
    "q_tpch_q17" -> (qTpchQ17 _),
    "q_tpch_q5" -> (qTpchQ5 _),
    "q_tpch_q18" -> (qTpchQ18 _),
    "q_tpch_q10" -> (qTpchQ10 _),
    "q_tpch_q6" -> (qTpchQ6 _),
    "q_tpch_q14" -> (qTpchQ14 _),
    "q_tpch_q4" -> (qTpchQ4 _),
    "q_tpch_q19" -> (qTpchQ19 _),
    "q_tpch_q13" -> (qTpchQ13 _),
    "q_tpch_q21" -> (qTpchQ21 _),
    "q_tpch_q22" -> (qTpchQ22 _),
    "q_tpch_q2" -> (qTpchQ2 _),
    "q_tpch_q15" -> (qTpchQ15 _),
    "q_tpch_q20" -> (qTpchQ20 _),
    "q_tpch_q1" -> (qTpchQ1 _),
    "q_tpch_q7" -> (qTpchQ7 _),
    "q_tpch_q8" -> (qTpchQ8 _),
    "q_tpch_q9" -> (qTpchQ9 _),
    "q_tpch_q11" -> (qTpchQ11 _),
    "q_tpch_q16" -> (qTpchQ16 _),
    "q_tpch_q12" -> (qTpchQ12 _),
    "q_share_of_region" -> (qShareOfRegion _),
    "q_nullsafe_join" -> (qNullsafeJoin _),
    "q_distinct_approx" -> (qDistinctApprox _),
    "q_quantile_sketch" -> (qQuantileSketch _),
    "q_topk_per_group" -> (qTopkPerGroup _),
    "q_window_running" -> (qWindowRunning _),
    "q_monthly_median" -> (qMonthlyMedian _),
    "q_mode_composite" -> (qModeComposite _),
    "q_first_composite" -> (qFirstComposite _),
    "q_setops" -> (qSetops _),
    "q_distinct" -> (qDistinct _),
    "q_histogram" -> (qHistogram _),
    "q_sort_limit" -> (qSortLimit _),
    "q_rollup" -> (qRollup _),
  )

  val oracle: Map[String, String] = Map(
    "q_scaling_probe" -> qScalingProbeSql,
    "q1_agg" -> q1AggSql,
    "q_filter_predicates" -> qFilterPredicatesSql,
    "q_bitmask_qa" -> qBitmaskQaSql,
    "q_join_star" -> qJoinStarSql,
    "q_join_outer" -> qJoinOuterSql,
    "q_semi_anti" -> qSemiAntiSql,
    "q_tpch_q3" -> qTpchQ3Sql,
    "q_tpch_q17" -> qTpchQ17Sql,
    "q_tpch_q5" -> qTpchQ5Sql,
    "q_tpch_q18" -> qTpchQ18Sql,
    "q_tpch_q10" -> qTpchQ10Sql,
    "q_tpch_q6" -> qTpchQ6Sql,
    "q_tpch_q14" -> qTpchQ14Sql,
    "q_tpch_q4" -> qTpchQ4Sql,
    "q_tpch_q19" -> qTpchQ19Sql,
    "q_tpch_q13" -> qTpchQ13Sql,
    "q_tpch_q21" -> qTpchQ21Sql,
    "q_tpch_q22" -> qTpchQ22Sql,
    "q_tpch_q2" -> qTpchQ2Sql,
    "q_tpch_q15" -> qTpchQ15Sql,
    "q_tpch_q20" -> qTpchQ20Sql,
    "q_tpch_q1" -> qTpchQ1Sql,
    "q_tpch_q7" -> qTpchQ7Sql,
    "q_tpch_q8" -> qTpchQ8Sql,
    "q_tpch_q9" -> qTpchQ9Sql,
    "q_tpch_q11" -> qTpchQ11Sql,
    "q_tpch_q16" -> qTpchQ16Sql,
    "q_tpch_q12" -> qTpchQ12Sql,
    "q_share_of_region" -> qShareOfRegionSql,
    "q_nullsafe_join" -> qNullsafeJoinSql,
    "q_distinct_approx" -> qDistinctApproxSql,
    "q_quantile_sketch" -> qQuantileSketchSql,
    "q_topk_per_group" -> qTopkPerGroupSql,
    "q_window_running" -> qWindowRunningSql,
    "q_monthly_median" -> qMonthlyMedianSql,
    "q_mode_composite" -> qModeCompositeSql,
    "q_first_composite" -> qFirstCompositeSql,
    "q_setops" -> qSetopsSql,
    "q_distinct" -> qDistinctSql,
    "q_histogram" -> qHistogramSql,
    "q_sort_limit" -> qSortLimitSql,
    "q_rollup" -> qRollupSql,
  )
}
