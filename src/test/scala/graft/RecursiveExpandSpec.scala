package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `WITH RECURSIVE` over a row-local step runs as one RecursiveExpandExec
  * (graft.plans.RecursiveExpandStrategy). Each accepted shape must return
  * the rows of Spark's own `UnionLoopExec` (forced by
  * `autoBroadcastJoinThreshold=-1`) and of the driver loop
  * `RecursiveCte.iterate`; every other shape must still plan
  * `UnionLoopExec`; both paths raise the same recursion-limit errors.
  *
  * Plan nodes are matched by class name, so the suite also compiles
  * (and reports which guarantees fail) without the operator.
  */
class RecursiveExpandSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private object Nodes extends AdaptiveSparkPlanHelper

  private def nodeNames(df: DataFrame): Seq[String] =
    Nodes.collect(df.queryExecution.executedPlan) { case p => p.getClass.getSimpleName }

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.mkString("|")).sorted

  /** Rows of `q` through the expansion (asserting it was planned) and
    * through `UnionLoopExec` (asserting that one was).
    */
  private def bothPaths(q: String): (Seq[String], Seq[String]) = {
    val expanded = spark.sql(q)
    val rows = canon(expanded.collect().toSeq)
    val names = nodeNames(expanded)
    assert(names.contains("RecursiveExpandExec") && !names.contains("UnionLoopExec"),
      s"expected the expansion: $names")
    val native = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(q)
      val r = canon(df.collect().toSeq)
      assert(nodeNames(df).contains("UnionLoopExec"))
      r
    }
    (rows, native)
  }

  private def assertSame(q: String, iterated: DataFrame, expectedRows: Int): Unit = {
    val (expanded, native) = bothPaths(q)
    assert(expanded == native)
    assert(expanded == canon(iterated.collect().toSeq))
    assert(expanded.length == expectedRows)
  }

  private def fallsBack(q: String): Seq[String] = {
    val df = spark.sql(q)
    val rows = canon(df.collect().toSeq)
    val names = nodeNames(df)
    assert(names.contains("UnionLoopExec") && !names.contains("RecursiveExpandExec"),
      s"expected UnionLoopExec: $names")
    rows
  }

  private def edges(name: String, pairs: String): Unit =
    spark.sql(s"SELECT CAST(src AS INT) AS src, CAST(dst AS INT) AS dst FROM VALUES $pairs AS v(src, dst)")
      .createOrReplaceTempView(name)

  private val counter =
    "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 10) SELECT n FROM t"

  private val rc1 =
    """WITH RECURSIVE t AS (
      |  SELECT c_custkey, 0 AS depth FROM customer WHERE c_custkey = 1
      |  UNION ALL
      |  SELECT /*+ BROADCAST(t) */ c.c_custkey, CAST(t.depth + 1 AS INT) AS depth
      |  FROM customer c JOIN t ON c.c_custkey DIV 4 = t.c_custkey
      |  WHERE c.c_custkey >= 2)
      |SELECT c_custkey, depth FROM t""".stripMargin

  import spark.implicits._

  test("rc1's shape (Project over an inner equi-join with customer) matches both references") {
    Tables.registerAll(spark, sf)
    val c = Tables.customer(spark, sf)
    val anchor = c.filter(col("c_custkey") === 1).select(col("c_custkey"), lit(0).as("depth"))
    val iterated = graft.operators.RecursiveCte.iterate(anchor, f =>
      c.filter(col("c_custkey") >= 2)
        .join(f.select(col("c_custkey").as("p"), col("depth").as("pd")),
          expr("c_custkey div 4") === col("p"))
        .select(col("c_custkey"), (col("pd") + 1).as("depth")))
    // 150 customers: levels {1}, 4..7, 16..31, 64..127
    assertSame(rc1, iterated, 85)
  }

  test("the counter shape (Project/Filter over the reference) matches both references") {
    val iterated = graft.operators.RecursiveCte.iterate(Seq(1).toDF("n"),
      f => f.filter(col("n") < 10).select((col("n") + 1).as("n")))
    assertSame(counter, iterated, 10)
  }

  test("fan-out: several S rows per key, duplicate edges kept (UNION ALL)") {
    edges("rx_fan", "(1, 2), (1, 3), (1, 4), (2, 5), (2, 6), (4, 7), (4, 7), (7, 8)")
    val e = spark.table("rx_fan")
    val iterated = graft.operators.RecursiveCte.iterate(Seq((1, 0)).toDF("node", "depth"),
      f => e.join(f, e("src") === f("node")).select(e("dst").as("node"), (f("depth") + 1).as("depth")))
    assertSame(
      """WITH RECURSIVE r(node, depth) AS (
        |  SELECT 1, 0 UNION ALL
        |  SELECT e.dst, r.depth + 1 FROM rx_fan e JOIN r ON e.src = r.node)
        |SELECT node, depth FROM r""".stripMargin, iterated, 10)
    // the reference on the join's left, and a residual over both sides
    val residual = graft.operators.RecursiveCte.iterate(Seq((1, 0)).toDF("node", "depth"),
      f => f.select(col("node").as("p"), col("depth").as("pd"))
        .join(e, col("p") === col("src") && col("dst") > col("p") + 1)
        .select(col("dst").as("node"), (col("pd") + 1).as("depth")))
    assertSame(
      """WITH RECURSIVE r(node, depth) AS (
        |  SELECT 1, 0 UNION ALL
        |  SELECT e.dst, r.depth + 1 FROM r JOIN rx_fan e ON r.node = e.src AND e.dst > r.node + 1)
        |SELECT node, depth FROM r""".stripMargin, residual, 5)
  }

  test("NULL join keys never match under =, and match each other under <=>") {
    edges("rx_null", "(1, 2), (2, NULL), (NULL, 20), (20, 21)")
    val e = spark.table("rx_null")
    def q(op: String) =
      s"""WITH RECURSIVE r(node, depth) AS (
         |  SELECT 1, 0 UNION ALL
         |  SELECT e.dst, r.depth + 1 FROM rx_null e JOIN r ON e.src $op r.node)
         |SELECT node, depth FROM r""".stripMargin
    val anchor = Seq((1, 0)).toDF("node", "depth")
    def iterated(nullSafe: Boolean) = graft.operators.RecursiveCte.iterate(anchor, f =>
      e.join(f, if (nullSafe) e("src") <=> f("node") else e("src") === f("node"))
        .select(e("dst").as("node"), (f("depth") + 1).as("depth")))
    // 1 -> 2 -> NULL stops; with <=> the NULL node reaches 20 and 21
    assertSame(q("="), iterated(nullSafe = false), 3)
    assertSame(q("<=>"), iterated(nullSafe = true), 5)
  }

  test("anchor/step type widening: an INT step widened to the BIGINT anchor") {
    edges("rx_wide", "(1, 2), (2, 3), (3, 4)")
    val e = spark.table("rx_wide")
    val iterated = graft.operators.RecursiveCte.iterate(
      Seq((1L, 0)).toDF("node", "depth"),
      f => e.join(f, e("src").cast("bigint") === f("node"))
        .select(e("dst").cast("bigint").as("node"), (f("depth") + 1).as("depth")))
    assertSame(
      """WITH RECURSIVE r(node, depth) AS (
        |  SELECT CAST(1 AS BIGINT), 0 UNION ALL
        |  SELECT e.dst, r.depth + 1 FROM rx_wide e JOIN r ON e.src = r.node)
        |SELECT node, depth FROM r""".stripMargin, iterated, 4)
    val counterIterated = graft.operators.RecursiveCte.iterate(Seq(1L).toDF("n"),
      f => f.filter(col("n") < 10).select((col("n").cast("int") + 1).cast("bigint").as("n")))
    assertSame(
      """WITH RECURSIVE t(n) AS (
        |  SELECT CAST(1 AS BIGINT) UNION ALL SELECT CAST(n AS INT) + 1 FROM t WHERE n < 10)
        |SELECT n FROM t""".stripMargin, counterIterated, 10)
  }

  test("LIMIT on the CTE, rand() in the step and a non-equi join keep UnionLoopExec") {
    assert(fallsBack(counter + " LIMIT 3").length == 3)
    assert(fallsBack(
      """WITH RECURSIVE t(n) AS (
        |  SELECT 1 UNION ALL SELECT n + CAST(rand() * 0 AS INT) + 1 FROM t WHERE n < 10)
        |SELECT n FROM t""".stripMargin) == canon((1 to 10).map(Row(_))))
    edges("rx_range", "(1, 2), (2, 3), (3, 4)")
    assert(fallsBack(
      """WITH RECURSIVE r(node) AS (
        |  SELECT 1 UNION ALL
        |  SELECT e.dst FROM rx_range e JOIN r ON e.src BETWEEN r.node AND r.node)
        |SELECT node FROM r""".stripMargin) == Seq("1", "2", "3", "4"))
  }

  test("S over autoBroadcastJoinThreshold keeps UnionLoopExec") {
    Tables.registerAll(spark, sf)
    val q = """WITH RECURSIVE t(c_custkey, depth) AS (
              |  SELECT CAST(1 AS BIGINT), 0 UNION ALL
              |  SELECT c.c_custkey, t.depth + 1
              |  FROM customer c JOIN t ON c.c_custkey DIV 4 = t.c_custkey
              |  WHERE c.c_custkey >= 2)
              |SELECT c_custkey, depth FROM t""".stripMargin
    val loop = spark.sql(q).queryExecution.optimizedPlan.collectFirst {
      case u: org.apache.spark.sql.catalyst.plans.logical.UnionLoop => u
    }.get
    val anchorSize = loop.anchor.stats.sizeInBytes
    val sSize = loop.recursion.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.left.stats.sizeInBytes
    }.get
    assert(anchorSize < 1000 && sSize > 1000, s"anchor $anchorSize B, S $sSize B")
    val expanded = canon(spark.sql(q).collect().toSeq)
    val native = withConf("spark.sql.autoBroadcastJoinThreshold" -> "1000")(fallsBack(q))
    assert(native == expanded && native.length == 85)
  }

  test("AQE re-planning keeps the expansion: S hashed larger than its estimate, S or anchor empty") {
    // a hashed broadcast's run-time size includes its memory pages (about
    // 1 MB at least), far above this 8-row relation's 128-byte estimate
    edges("rx_big", "(1, 2), (1, 3), (1, 4), (2, 5), (2, 6), (4, 7), (4, 7), (7, 8)")
    val fan = """WITH RECURSIVE r(node, depth) AS (
                |  SELECT 1, 0 UNION ALL
                |  SELECT e.dst, r.depth + 1 FROM rx_big e JOIN r ON e.src = r.node)
                |SELECT node, depth FROM r""".stripMargin
    // S or the anchor empty only at run time: AQE propagates it
    Tables.registerAll(spark, sf)
    val empty = rc1.replace("WHERE c.c_custkey >= 2", "WHERE c.c_custkey >= 2 AND c.c_acctbal > 1e9")
    val noAnchor = rc1.replace("WHERE c_custkey = 1", "WHERE c_custkey = -1")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for ((q, n, planned) <- Seq((fan, 10, "1000"), (empty, 1, threshold), (noAnchor, 0, threshold))) {
      val df = spark.sql(q)
      // a step re-planned as UnionLoopExec over finished stages never ends
      val rows = withConf("spark.sql.autoBroadcastJoinThreshold" -> planned) {
        scala.concurrent.Await.result(
          scala.concurrent.Future(df.collect().toSeq)(scala.concurrent.ExecutionContext.global),
          scala.concurrent.duration.Duration(120, "s"))
      }
      assert(!nodeNames(df).contains("UnionLoopExec"))
      val native = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(fallsBack(q))
      assert(canon(rows) == native && rows.length == n)
    }
  }

  test("level and row limits raise the same condition on both paths at the boundary") {
    Tables.registerAll(spark, sf)
    def outcome(q: String, conf: (String, String)): String =
      withConf(conf) {
        try canon(spark.sql(q).collect().toSeq).length.toString
        catch { case e: SparkThrowable => e.getCondition }
      }
    def both(q: String, conf: (String, String)): (String, String) = {
      val expanded = outcome(q, conf)
      val native = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(outcome(q, conf))
      (expanded, native)
    }
    val level = "spark.sql.cteRecursionLevelLimit"
    val row = "spark.sql.cteRecursionRowLimit"
    val lvl = "RECURSION_LEVEL_LIMIT_EXCEEDED"
    val rws = "RECURSION_ROW_LIMIT_EXCEEDED"
    // counter: 10 levels of 1 row; rc1 at sf0.001: 4 levels, 85 rows
    val cases = Seq(
      (counter, level -> "9", lvl), (counter, level -> "10", "10"), (counter, level -> "11", "10"),
      (counter, row -> "9", rws), (counter, row -> "10", rws), (counter, row -> "11", "10"),
      (rc1, level -> "3", lvl), (rc1, level -> "4", "85"), (rc1, level -> "5", "85"),
      (rc1, row -> "84", rws), (rc1, row -> "85", rws), (rc1, row -> "86", "85"))
    cases.foreach { case (q, conf, want) =>
      withConf(conf)(assert(nodeNames(spark.sql(q)).exists(_.startsWith("RecursiveExpand"))))
      assert(both(q, conf) == ((want, want)), s"$conf on ${q.take(40)}")
    }
  }

  test("rc1 runs at most 6 Spark jobs, as one RecursiveExpandExec with metrics") {
    val sc = spark.sparkContext
    val rc1Query = SparkEntry.queries("rc1_recursive_hierarchy")
    rc1Query(spark, sf).collect() // warm-up: one-off session jobs stay out of the count
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            if (g == "rc1-end") sentinel.countDown()
            else jobs.merge(g, 1, (a: Integer, b: Integer) => a + b)
          }
    }
    sc.addSparkListener(listener)
    val df = rc1Query(spark, sf)
    try {
      sc.setJobGroup("rc1-jobs", "rc1")
      try assert(df.collect().length == 85) finally sc.clearJobGroup()
      // listener events arrive in order: once the sentinel job's start is
      // seen, every rc1 job has been counted
      sc.setJobGroup("rc1-end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    val n = Option(jobs.get("rc1-jobs")).map(_.intValue).getOrElse(0)
    assert(n >= 1 && n <= 6, s"rc1 ran $n Spark jobs")

    val names = nodeNames(df)
    assert(names.contains("RecursiveExpandExec") && !names.contains("UnionLoopExec"), names)
    val node: SparkPlan = Nodes.collect(df.queryExecution.executedPlan) {
      case p if p.getClass.getSimpleName == "RecursiveExpandExec" => p
    }.head
    assert(node.metrics("numOutputRows").value == 85)
    assert(node.metrics("recursionLevels").value == 4)
    assert(node.metrics("expandTime").value > 0)
    // the anchor scan and the broadcast customer are real children
    val explained = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(node.children.length == 2)
    assert(explained.contains("BroadcastExchange") && explained.contains("Scan parquet"))
    assert(!explained.contains("UnionLoopRef"))
  }
}
