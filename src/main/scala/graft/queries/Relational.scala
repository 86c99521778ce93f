package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational-core coverage beyond the TPC-H shapes: window functions +
  * frames (reference `pkg/sql/colexec/window/`, registry
  * `pkg/sql/plan/function/list_window.go:23`), ROLLUP/CUBE/GROUPING SETS
  * (`pkg/sql/parsers/tree/select.go:519-520`), set operations
  * (`minus/ intersect/ intersectall/ unionall/`), limit/offset, distinct,
  * and recursive CTE (`mergerecursive/`).
  */
object Relational extends QueryModule {

  // exact-money kernel: value-identical to sum(CAST(c AS DECIMAL(30,6)))
  // (MoneySpec pins the equivalence) without the per-row decimal cost
  private def moneySum(c: Column): Column =
    graft.functions.MoneyExpressions.moneySum(c)

  // ------------------------------------------------------------- windows
  // Ranking family: rank/dense_rank/row_number/ntile/percent_rank/cume_dist.
  private def wRanking(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey")).orderBy(desc("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        row_number().over(w).as("rn"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("prnk"),
        round(cume_dist().over(w), 6).as("cdist"))
      .filter(col("rn") <= 5)
      .orderBy(col("c_nationkey"), col("rn"))
  }

  private val wRankingSql =
    """SELECT * FROM (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(rank()        OVER w AS INTEGER) AS rnk,
      |    CAST(dense_rank()  OVER w AS INTEGER) AS drnk,
      |    CAST(row_number()  OVER w AS INTEGER) AS rn,
      |    CAST(ntile(4)      OVER w AS INTEGER) AS quartile,
      |    round(percent_rank() OVER w, 6) AS prnk,
      |    round(cume_dist()    OVER w, 6) AS cdist
      |  FROM customer
      |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)) t
      |WHERE rn <= 5 ORDER BY c_nationkey, rn""".stripMargin

  // Frame family: running and sliding aggregates with ROWS frames.
  private def wFrames(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sliding = w.rowsBetween(-2, 0)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        graft.functions.MoneyExpressions.toMoney(
          graft.functions.MoneyExpressions.sumMantissa(col("o_totalprice"))
            .over(running)).as("running_spend"),
        // avg as exact sum / count: engines disagree on decimal-avg
        // result scale, double division of exact inputs is deterministic
        round(graft.functions.MoneyExpressions.toDouble(
          graft.functions.MoneyExpressions.sumMantissa(col("o_totalprice"))
            .over(sliding)) /
          count(lit(1)).over(sliding), 6).as("sliding_avg_3"),
        count(lit(1)).over(running).as("nth_order"))
      .filter(col("o_custkey") < 30)
      .orderBy(col("o_custkey"), col("nth_order"))
  }

  private val wFramesSql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_spend,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS sliding_avg_3,
      |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nth_order
      |FROM orders WHERE o_custkey < 30
      |ORDER BY o_custkey, nth_order""".stripMargin

  // Offset family: lag/lead/first_value/last_value/nth_value on the events
  // stream table.
  private def wOffsets(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        round(col("value") - lag(col("value"), 1).over(w), 6).as("delta_prev"),
        round(lead(col("value"), 1).over(w), 6).as("next_value"),
        lag(col("event_type"), 2, "none").over(w).as("type_2_back"),
        first(col("event_type")).over(wAll).as("first_type"),
        last(col("event_type")).over(wAll).as("last_type"),
        nth_value(col("event_type"), 2).over(wAll).as("second_type"))
      .filter(col("user_id") < 20)
      .orderBy(col("user_id"), col("event_id"))
  }

  private val wOffsetsSql =
    """SELECT user_id, event_id,
      |  round(value - lag(value, 1) OVER w, 6) AS delta_prev,
      |  round(lead(value, 1) OVER w, 6) AS next_value,
      |  coalesce(lag(event_type, 2) OVER w, 'none') AS type_2_back,
      |  first_value(event_type) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_type,
      |  last_value(event_type) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type,
      |  nth_value(event_type, 2) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_type
      |FROM events WHERE user_id < 20
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  // RANGE frames: value-based window bounds (vs the ROWS frames in w2).
  private def wRangeFrames(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
      .rangeBetween(-50000L, 50000L)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        count(lit(1)).over(w).as("n_within_50k"),
        graft.functions.MoneyExpressions.toMoney(
          graft.functions.MoneyExpressions.sumMantissa(col("o_totalprice"))
            .over(w)).as("sum_within_50k"))
      .filter(col("o_custkey") < 20)
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val wRangeFramesSql =
    """SELECT o_custkey, o_orderkey,
      |  count(*) OVER w AS n_within_50k,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))) OVER w, 2) AS DOUBLE)
      |    AS sum_within_50k
      |FROM orders WHERE o_custkey < 20
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
      |             RANGE BETWEEN 50000 PRECEDING AND 50000 FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------- grouping extensions
  // ROLLUP with grouping() markers; group keys coalesced so the compare
  // never sees NULL-vs-NaN dtype drift.
  private def gRollup(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("c_mktsegment"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), moneySum(col("c_acctbal")).as("total_bal"),
        grouping(col("c_mktsegment")).cast("int").as("g_seg"),
        grouping(col("n_name")).cast("int").as("g_nat"))
      .select(coalesce(col("c_mktsegment"), lit("ALL")).as("mktsegment"),
        coalesce(col("n_name"), lit("ALL")).as("n_name"),
        col("n_cust"), col("total_bal"), col("g_seg"), col("g_nat"))
      .orderBy(col("g_seg"), col("g_nat"), col("mktsegment"), col("n_name"))

  private val gRollupSql =
    """SELECT coalesce(c_mktsegment, 'ALL') AS mktsegment,
      |       coalesce(n_name, 'ALL') AS n_name,
      |       count(*) AS n_cust,
      |       CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_bal,
      |       CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_seg,
      |       CAST(GROUPING(n_name) AS INTEGER) AS g_nat
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP (c_mktsegment, n_name)
      |ORDER BY g_seg, g_nat, mktsegment, n_name""".stripMargin

  private def gCube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("total_price"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
        col("n_orders"), col("total_price"))
      .orderBy(col("orderstatus"), col("orderpriority"))

  private val gCubeSql =
    """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
      |       coalesce(o_orderpriority, 'ALL') AS orderpriority,
      |       count(*) AS n_orders,
      |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY orderstatus, orderpriority""".stripMargin

  // GROUPING SETS via SQL (the reference binds them in
  // query_builder.go:3393-3402; Spark parses them natively).
  /** Native GROUPING SETS ((a,b),(a),()) — Spark's Expand + partial agg
    * (the partial agg condenses each replayed stream BEFORE the shuffle,
    * so the exchange carries ~3×|groups| rows, not 3×|rows|). The NULL
    * placeholder rows coalesce to 'ALL' exactly like the oracle, which
    * stays correct even when a group key itself is NULL — a manual
    * UNION-of-reaggregations with 'ALL' literals would not be.
    */
  /** GROUPING SETS ((a,b),(a),()) rolled up FROM THE FINEST LEVEL: one
    * scan aggregates 6M rows to ~6 (a,b) groups (map-side combine keeps
    * the shuffle tiny), then the coarser sets re-aggregate those 6 rows.
    * Spark's native GROUPING SETS would Expand the scan ×3 — triple the
    * shuffle volume for identical results. Decimal sums re-sum exactly,
    * so the hierarchy is lossless; at 100 TB this is the difference
    * between one pass and three.
    */
  private def gSets(s: SparkSession, d: String): DataFrame = {
    val M = graft.functions.MoneyExpressions
    val base = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(M.sumMantissa(col("l_quantity")).as("sq"),
        count(lit(1)).as("n"))
      .localCheckpoint() // ~6 rows: reuse for every grouping set
    val nullStr = lit(null).cast("string")
    val lvl2 = base.select(col("l_returnflag"), col("l_linestatus"),
      col("sq"), col("n"))
    val lvl1 = base.groupBy(col("l_returnflag"))
      .agg(M.sumMantissaLong(col("sq")).as("sq"), sum(col("n")).as("n"))
      .select(col("l_returnflag"), nullStr.as("l_linestatus"), col("sq"),
        col("n"))
    val lvl0 = base
      .agg(M.sumMantissaLong(col("sq")).as("sq"), sum(col("n")).as("n"))
      .select(nullStr.as("l_returnflag"), nullStr.as("l_linestatus"),
        col("sq"), col("n"))
    lvl2.unionByName(lvl1).unionByName(lvl0)
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        M.toMoney(col("sq")).as("sum_qty"),
        col("n").as("n"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  private val gSetsSql =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       CAST(round(sum(CAST(l_quantity AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_qty,
      |       count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY returnflag, linestatus""".stripMargin

  // ------------------------------------------------------------- set ops
  private def highBal(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_acctbal") > 5000).select(col("c_custkey"))
  private def buyers(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_custkey").as("c_custkey")).distinct()
  private def building(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))

  private def setUnion(s: SparkSession, d: String): DataFrame =
    highBal(s, d).union(building(s, d)).distinct().orderBy(col("c_custkey"))
  private val setUnionSql =
    """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      |UNION
      |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |ORDER BY c_custkey""".stripMargin

  private def setUnionAll(s: SparkSession, d: String): DataFrame =
    highBal(s, d).union(building(s, d))
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("n_appearances"))
      .orderBy(col("c_custkey"))
  private val setUnionAllSql =
    """SELECT c_custkey, count(*) AS n_appearances FROM (
      |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      |  UNION ALL
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') t
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  private def setIntersect(s: SparkSession, d: String): DataFrame =
    highBal(s, d).intersect(buyers(s, d)).orderBy(col("c_custkey"))
  private val setIntersectSql =
    """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      |INTERSECT
      |SELECT o_custkey FROM orders
      |ORDER BY c_custkey""".stripMargin

  private def setExcept(s: SparkSession, d: String): DataFrame =
    building(s, d).except(highBal(s, d)).orderBy(col("c_custkey"))
  private val setExceptSql =
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |EXCEPT
      |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      |ORDER BY c_custkey""".stripMargin

  // INTERSECT ALL / EXCEPT ALL (reference intersectall/, minus/ with
  // ALL-multiplicity): multiset semantics over duplicated rows.
  private def setIntersectAll(s: SparkSession, d: String): DataFrame = {
    val a = Tables.lineitem(s, d).filter(col("l_quantity") <= 3)
      .select(col("l_suppkey"), col("l_returnflag"))
    val b = Tables.lineitem(s, d).filter(col("l_discount") > 0.08)
      .select(col("l_suppkey"), col("l_returnflag"))
    a.intersectAll(b)
      .groupBy(col("l_suppkey"), col("l_returnflag")).agg(count(lit(1)).as("n"))
      .orderBy(col("l_suppkey"), col("l_returnflag"))
  }
  private val setIntersectAllSql =
    """SELECT l_suppkey, l_returnflag, count(*) AS n FROM (
      |  SELECT l_suppkey, l_returnflag FROM lineitem WHERE l_quantity <= 3
      |  INTERSECT ALL
      |  SELECT l_suppkey, l_returnflag FROM lineitem WHERE l_discount > 0.08) t
      |GROUP BY l_suppkey, l_returnflag
      |ORDER BY l_suppkey, l_returnflag""".stripMargin

  private def setExceptAll(s: SparkSession, d: String): DataFrame = {
    val a = Tables.lineitem(s, d).filter(col("l_quantity") <= 3)
      .select(col("l_suppkey"), col("l_returnflag"))
    val b = Tables.lineitem(s, d).filter(col("l_discount") > 0.08)
      .select(col("l_suppkey"), col("l_returnflag"))
    a.exceptAll(b)
      .groupBy(col("l_suppkey"), col("l_returnflag")).agg(count(lit(1)).as("n"))
      .orderBy(col("l_suppkey"), col("l_returnflag"))
  }
  private val setExceptAllSql =
    """SELECT l_suppkey, l_returnflag, count(*) AS n FROM (
      |  SELECT l_suppkey, l_returnflag FROM lineitem WHERE l_quantity <= 3
      |  EXCEPT ALL
      |  SELECT l_suppkey, l_returnflag FROM lineitem WHERE l_discount > 0.08) t
      |GROUP BY l_suppkey, l_returnflag
      |ORDER BY l_suppkey, l_returnflag""".stripMargin

  // ------------------------------------------------------- limit / offset
  private def limitOffset(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .offset(10).limit(5)
      .select(col("o_orderkey"), col("o_totalprice"))
  private val limitOffsetSql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 5 OFFSET 10""".stripMargin

  // ------------------------------------------------------------- distinct
  private def distinctPairs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct().orderBy(col("o_orderstatus"), col("o_orderpriority"))
  private val distinctPairsSql =
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // approx_count_distinct emitted as a HARD-oracle summary: the exact
  // count (DuckDB re-derives it) plus a within-15% flag on Spark's HLL
  // estimate (3× the default 5% rsd; observed ≤8.7% at sf0.001/0.01).
  private def approxDistinct(s: SparkSession, d: String): DataFrame = {
    // keep the HLL++ aggregate OUT of the same agg() as countDistinct:
    // mixed with a distinct aggregate, Spark's first phase groups by
    // (l_returnflag, l_orderkey) and builds one HLL++ buffer per
    // DISTINCT KEY instead of one per flag (a5's 16KB-buffer version of
    // this measured 12 s; here the buffers are smaller but the shape is
    // the same). Split, then join the 3-row results.
    val li = Tables.lineitem(s, d)
    val approx = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey")).as("_approx"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
    approx.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_orders"),
        (abs(col("_approx") - col("exact_orders")).cast("double") / col("exact_orders")
          <= 0.15).as("within_3rsd"))
      .orderBy(col("l_returnflag"))
  }

  private val approxDistinctSql =
    """SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
      |       true AS within_3rsd
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------- recursive CTE
  // Synthetic hierarchy: parent(c) = c DIV 4, rooted at custkey 1 —
  // union-until-fixpoint (UNION ALL semantics, like WITH RECURSIVE).
  /** Spark 4.1's `UnionLoopExec` re-plans the step once per level: rc1
    * ran 35 Spark jobs and 8 analysis/optimization/planning passes for
    * its 8 levels (1.7 s at sf0.1 on 4 cores). Its step is a
    * Project/Filter chain over an inner equi-join of the frontier with
    * customer, so [[graft.plans.RecursiveExpandStrategy]] plans it as one
    * `RecursiveExpandExec`: customer is broadcast once and one task
    * expands the levels (3 jobs). `RecursiveCte.iterate` remains the
    * driver for the shapes native recursion rejects (multi-anchor,
    * >2 branches, UNION DISTINCT).
    */
  private def recursiveHierarchy(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """WITH RECURSIVE t AS (
        |  SELECT c_custkey, 0 AS depth FROM customer WHERE c_custkey = 1
        |  UNION ALL
        |  SELECT /*+ BROADCAST(t) */ c.c_custkey, CAST(t.depth + 1 AS INT) AS depth
        |  FROM customer c JOIN t ON c.c_custkey DIV 4 = t.c_custkey
        |  WHERE c.c_custkey >= 2)
        |SELECT c_custkey, depth FROM t ORDER BY depth, c_custkey""".stripMargin)
  }

  private val recursiveHierarchySql =
    """WITH RECURSIVE t AS (
      |  SELECT c_custkey, 0 AS depth FROM customer WHERE c_custkey = 1
      |  UNION ALL
      |  SELECT c.c_custkey, t.depth + 1 FROM customer c
      |  JOIN t ON c.c_custkey // 4 = t.c_custkey AND c.c_custkey >= 2)
      |SELECT c_custkey, depth FROM t ORDER BY depth, c_custkey""".stripMargin

  // --------------------------------------- NULL / operator edge semantics
  /** NOT IN over a subquery containing NULL must yield zero rows (3-valued
    * logic, MARK-join semantics — reference flatten_subquery.go:511);
    * IN ignores the NULL for present values.
    */
  private def nullSemantics(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT
        |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN
        |    (SELECT CASE WHEN s_suppkey = 3 THEN NULL ELSE s_suppkey END FROM supplier)) AS n_not_in,
        |  (SELECT count(*) FROM customer WHERE c_custkey IN
        |    (SELECT CASE WHEN s_suppkey = 3 THEN NULL ELSE s_suppkey END FROM supplier)) AS n_in,
        |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_suppkey < 5)) AS n_not_in_clean""".stripMargin)
  }

  private val nullSemanticsSql =
    """SELECT
      |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN
      |    (SELECT CASE WHEN s_suppkey = 3 THEN NULL ELSE s_suppkey END FROM supplier)) AS n_not_in,
      |  (SELECT count(*) FROM customer WHERE c_custkey IN
      |    (SELECT CASE WHEN s_suppkey = 3 THEN NULL ELSE s_suppkey END FROM supplier)) AS n_in,
      |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN
      |    (SELECT s_suppkey FROM supplier WHERE s_suppkey < 5)) AS n_not_in_clean""".stripMargin

  /** Null-safe equality (`<=>` ≙ IS NOT DISTINCT FROM), integer division,
    * modulo sign (follows dividend in both engines).
    */
  private def operatorEdges(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
        col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("F")).eqNullSafe(lit(null)).as("was_f"),
        expr("o_orderkey DIV 7").as("idiv"),
        ((lit(0L) - col("o_orderkey")) % 7).as("imod"),
        ((col("o_orderkey") % 2 === 0) =!= (col("o_custkey") % 2 === 0)).as("bxor"))
      .orderBy(col("o_orderkey"))

  private val operatorEdgesSql =
    """SELECT o_orderkey,
      |  nullif(o_orderstatus, 'F') IS NOT DISTINCT FROM NULL AS was_f,
      |  o_orderkey // 7 AS idiv,
      |  (0 - o_orderkey) % 7 AS imod,
      |  (o_orderkey % 2 = 0) <> (o_custkey % 2 = 0) AS bxor
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------- multi-reference CTE
  /** One CTE consumed twice (reference materializes via SINK/SINK_SCAN,
    * `plan.pb.go:707-708`; Spark re-executes or reuses the exchange).
    */
  private def multiRefCte(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """WITH seg_stats AS (
        |  SELECT c_mktsegment,
        |         CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,6))), 2) AS DOUBLE) AS total,
        |         count(*) AS n
        |  FROM customer GROUP BY c_mktsegment)
        |SELECT a.c_mktsegment, a.total, a.n,
        |       round(a.total / b.grand_total, 6) AS share
        |FROM seg_stats a
        |CROSS JOIN (SELECT sum(total) AS grand_total FROM seg_stats) b
        |ORDER BY a.c_mktsegment""".stripMargin)
  }

  private val multiRefCteSql =
    """WITH seg_stats AS (
      |  SELECT c_mktsegment,
      |         CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,6))), 2) AS DOUBLE) AS total,
      |         count(*) AS n
      |  FROM customer GROUP BY c_mktsegment)
      |SELECT a.c_mktsegment, a.total, a.n,
      |       round(a.total / b.grand_total, 6) AS share
      |FROM seg_stats a
      |CROSS JOIN (SELECT sum(total) AS grand_total FROM seg_stats) b
      |ORDER BY a.c_mktsegment""".stripMargin

  // --------------------------------------------------------- cast matrix
  /** Implicit/explicit cast conformance (reference cast matrix
    * `func_cast.go:429`): try_cast of malformed input → NULL, numeric
    * truncation toward zero, string/date round trips, bool↔int.
    */
  private def castMatrix(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT o_orderkey,
        |  try_cast(o_orderpriority AS INT) AS bad_int,
        |  CAST(floor(CAST(o_totalprice AS DECIMAL(20,4))) AS BIGINT) AS price_int,
        |  CAST(o_orderkey AS STRING) AS key_str,
        |  CAST(CAST(o_orderdate AS DATE) AS STRING) AS date_str,
        |  CAST(o_orderkey % 2 = 0 AS INT) AS bool_int,
        |  CAST(try_cast('1997-13-45' AS DATE) AS STRING) AS bad_date,
        |  CAST('42' AS BIGINT) + o_orderkey AS str_arith
        |FROM orders ORDER BY o_orderkey""".stripMargin)
  }

  private val castMatrixSql =
    """SELECT o_orderkey,
      |  TRY_CAST(o_orderpriority AS INTEGER) AS bad_int,
      |  CAST(floor(CAST(o_totalprice AS DECIMAL(20,4))) AS BIGINT) AS price_int,
      |  CAST(o_orderkey AS VARCHAR) AS key_str,
      |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_str,
      |  CAST(o_orderkey % 2 = 0 AS INTEGER) AS bool_int,
      |  CAST(TRY_CAST('1997-13-45' AS DATE) AS VARCHAR) AS bad_date,
      |  CAST('42' AS BIGINT) + o_orderkey AS str_arith
      |FROM orders ORDER BY o_orderkey""".stripMargin

  override val queries: Seq[Q] = Seq(
    Q("n1_null_semantics", nullSemantics, Some(nullSemanticsSql)),
    Q("n2_operator_edges", operatorEdges, Some(operatorEdgesSql)),
    Q("rc2_multi_ref_cte", multiRefCte, Some(multiRefCteSql)),
    Q("n3_cast_matrix", castMatrix, Some(castMatrixSql)),
    Q("w1_ranking", wRanking, Some(wRankingSql)),
    Q("w2_frames", wFrames, Some(wFramesSql)),
    Q("w3_offsets", wOffsets, Some(wOffsetsSql)),
    Q("w4_range_frames", wRangeFrames, Some(wRangeFramesSql)),
    Q("g1_rollup", gRollup, Some(gRollupSql)),
    Q("g2_cube", gCube, Some(gCubeSql)),
    Q("g3_grouping_sets", gSets, Some(gSetsSql)),
    Q("s1_union", setUnion, Some(setUnionSql)),
    Q("s2_union_all", setUnionAll, Some(setUnionAllSql)),
    Q("s3_intersect", setIntersect, Some(setIntersectSql)),
    Q("s4_except", setExcept, Some(setExceptSql)),
    Q("s5_intersect_all", setIntersectAll, Some(setIntersectAllSql)),
    Q("s6_except_all", setExceptAll, Some(setExceptAllSql)),
    Q("l1_limit_offset", limitOffset, Some(limitOffsetSql)),
    Q("d1_distinct", distinctPairs, Some(distinctPairsSql)),
    Q("d2_approx_distinct", approxDistinct, Some(approxDistinctSql)),
    Q("rc1_recursive_hierarchy", recursiveHierarchy, Some(recursiveHierarchySql)))
}
