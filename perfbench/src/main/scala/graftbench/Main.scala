package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, Tables}
import graft.functions.{MoneyExpressions, TextFunctions, VectorFunctions}
import graft.fulltext.Bm25
import graft.plans.IvfIndex
import graft.sql.GraftSql

/** One benchmark run of one workload in its own JVM (see README.md).
  *
  * Sets a graft session up once per `--data` directory and keeps the last,
  * runs the correctness gate (tpch, pipeline) and an untimed warm-up, then
  * drives one closed-loop client for at least `--seconds`, ending on a
  * whole block of operations. With `--trace 1` the timed phase runs twice,
  * untraced then traced, followed by the kernel probes. Raw timings, spans
  * and outputs go to files for `run.py` to summarize and check.
  */
object Main {
  final case class Op(kind: String, text: String, expect: Seq[String])
  final case class Result(op: Long, kind: String, name: String, ms: Double,
      ok: Boolean, wrong: Boolean, error: String)

  /** TPC-H q1–q22 by name prefix, as declared in SparkEntry. */
  def tpchNames: Seq[String] =
    (1 to 22).flatMap(i => SparkEntry.queries.keys.find(_.startsWith(s"q${i}_")))

  /** The non-TPC-H headline queries: window, time-series, vector, fulltext,
    * grouping sets, recursion, text quality and bitmap aggregates.
    * dd2_minhash_lsh is left out: on some generated corpora its MinHash
    * LSH misses a true near-duplicate pair (README.md, findings), and a
    * workload must not contain an operation that fails.
    */
  val pipelineNames: Seq[String] = Seq("w1_ranking", "w4_range_frames",
    "tw1_tumbling_day", "tw7_fill_linear", "v2_knn_cosine", "v6_ivf_knn",
    "ft1_bm25_natural", "g3_grouping_sets", "rc1_recursive_hierarchy",
    "tx2_quality", "a4_bitmap_aggs")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val seed = a("seed").toLong
    val cores = a("cores").toInt
    val dataDirs = a("data").split(',').toSeq // one hard-linked copy per set-up
    val work = a("work")
    val setupTimes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val out = mutable.LinkedHashMap.empty[String, Any]

    val dml = workload == "dialect_dml"
    val setupSql = if (dml) lines(a("setup_sql")) else Nil
    val pk = a.get("pk").map(_.split('.')) // table.column

    var spark: SparkSession = null
    for (i <- dataDirs.indices) {
      if (spark != null) spark.stop()
      val (s, times) = setup(workload, cores, dataDirs(i), s"$work/s$i", setupSql, pk)
      spark = s
      setupTimes += times
    }
    val dir = dataDirs.last
    out("setups") = setupTimes.toSeq

    val names = workload match {
      case "tpch" => tpchNames
      case "pipeline" => pipelineNames
      case _ => Nil
    }
    val tGate = System.nanoTime()
    if (names.nonEmpty) out("gate") = gate(spark, dir, names, s"$work/gate")
    out("gate_s") = (System.nanoTime() - tGate) / 1e9

    val ops: Iterator[Op] =
      if (dml) lines(a("ops")).iterator.map { l =>
        val f = l.split('\t')
        Op(f(0), f(1), f.drop(2).toSeq)
      }
      else Iterator.from(0).flatMap { sweep =>
        new scala.util.Random(seed * 1000003L + sweep).shuffle(names).map(n => Op("query", n, Nil))
      }

    // a timed phase ends on a block boundary (whole sweeps of the queries,
    // whole blocks of statements), so every phase runs the same mix
    val block = a("block").toInt
    var opId = 0L
    // returns the operations, the phase's seconds without the host-speed
    // probes, and the probe times (ms) taken before each operation
    def phase(tracer: Option[Tracer], seconds: Double,
        block: Int = block): (Seq[Result], Double, Seq[Double]) = {
      val results = mutable.ArrayBuffer.empty[Result]
      val probeMs = mutable.ArrayBuffer.empty[Double]
      System.gc() // start from a collected heap, not the gate's garbage
      val t0 = System.nanoTime()
      val limit = t0 + (seconds * 1e9).toLong
      while ((results.isEmpty || System.nanoTime() < limit || results.size % block != 0) &&
          ops.hasNext) {
        probeMs += hostSpeedProbe(cores)
        opId += 1
        results += runOp(spark, dir, opId, ops.next(), tracer)
      }
      (results.toSeq, (System.nanoTime() - t0) / 1e9 - probeMs.sum / 1e3, probeMs.toSeq)
    }

    // one untimed execution (the gate) leaves the JIT still compiling: the
    // next pass measured 10-15% faster. Run the stream untimed first; its
    // results are still checked.
    out("warmup_ops") = phase(None, 0, a("warmup").toInt)._1.map(resultMap)
    val (results, elapsed, probeMs) = phase(None, seconds)
    out("ops") = results.map(resultMap)
    out("elapsed_s") = elapsed
    out("host_probe_ms") = probeMs
    // Spark's cleaner frees shuffle and broadcast state only after a GC has
    // found it unreachable: collect a few times, keep the lowest reading
    out("heap_after_gc_mb") = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    if (traced) {
      val tracer = new Tracer(spark)
      tracer.start()
      val (tr, tElapsed, _) = phase(Some(tracer), seconds)
      val spans = tracer.finish()
      out("traced_ops") = tr.map(resultMap)
      out("traced_elapsed_s") = tElapsed
      out("counters") = tracer.counters.toSeq.map { case (g, c) => Map("group" -> g) ++ c.toMap }
      writeLines(a("spans"), spans.map(s => Json.render(Map("id" -> s.id,
        "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs))))
      if (!dml) out("probes") = probes(spark, dir)
    }
    out("ops_executed") = opId
    if (dml) {
      val table = pk.get.head
      writeLines(s"$work/final_table.txt",
        canon(GraftSql.sql(spark, s"SELECT * FROM $table").collect().toSeq)
          .sortBy(_.takeWhile(_ != '|').toLong))
      GraftSql.sql(spark, s"DROP TABLE IF EXISTS $table")
      GraftSql.clearPrimaryKey(table)
    }
    spark.stop()
    Files.write(Paths.get(a("out")), Json.render(out.toMap).getBytes(UTF_8))
  }

  /** Build a session on fresh warehouse, index and local dirs under `work`,
    * register what the workload reads and warm it up.
    */
  def setup(workload: String, cores: Int, dir: String, work: String,
      setupSql: Seq[String], pk: Option[Array[String]]): (SparkSession, Map[String, Double]) = {
    val times = mutable.LinkedHashMap.empty[String, Double]
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally times(name) = (System.nanoTime() - t0) / 1e6
    }
    val t0 = System.nanoTime()
    val spark = timed("GraftSession.build_ms") {
      GraftSession.builder(s"local[$cores]")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/local")
        .config("graft.index.dir", s"$work/indexes")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    timed("GraftSession.init_ms")(GraftSession.init(spark))
    workload match {
      case "dialect_dml" =>
        val Array(table, key) = pk.get
        timed("sql.create_ms") {
          GraftSql.sql(spark, s"DROP TABLE IF EXISTS $table")
          GraftSql.sql(spark, setupSql.head)
          GraftSql.registerPrimaryKey(table, key)
        }
        timed("sql.bulk_load_ms")(setupSql.tail.foreach(GraftSql.sql(spark, _).collect()))
        timed("warmup_ms")(GraftSql.sql(spark, s"SELECT count(*) FROM $table").collect())
      case _ =>
        timed("Tables.load_ms")(Tables.registerAll(spark, dir))
        timed("warmup_ms") {
          SparkEntry.queries(tpchNames.find(_.startsWith("q6_")).get)(spark, dir)
            .write.format("noop").mode("overwrite").save()
        }
        if (workload == "pipeline") {
          // the same index keys ft1 and v6 use, so the queries find them built
          timed("fulltext.index_build_ms")(
            Bm25.FulltextIndex.forCorpus(Tables.documents(spark, dir), "doc_id", "text", key = dir))
          timed("plans.ivf_build_ms")(
            IvfIndex.forCorpus(s"emb-$dir", Tables.embeddings(spark, dir), "embedding",
              nlist = 16, nprobe = 4))
        }
    }
    times("setup_s") = (System.nanoTime() - t0) / 1e9
    (spark, times.toMap)
  }

  /** Each query once, outside the timed phase: its result goes to parquet
    * for the DuckDB oracle compare, with the oracle SQL beside it.
    */
  def gate(spark: SparkSession, dir: String, names: Seq[String], out: String): Map[String, String] = {
    val errors = names.flatMap { n =>
      try {
        SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
        None
      } catch { case e: Throwable => Some(n -> firstLine(e)) }
      finally spark.catalog.clearCache()
    }
    val oracle = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    Files.write(Paths.get(s"$out/oracle_sql.json"), Json.render(oracle).getBytes(UTF_8))
    errors.toMap
  }

  def runOp(spark: SparkSession, dir: String, id: Long, op: Op, tracer: Option[Tracer]): Result = {
    val sc = spark.sparkContext
    def span[T](parent: Long, name: String)(body: Long => T): T =
      tracer.fold(body(0L))(_.span(id, parent, name)(body))
    val t0 = System.nanoTime()
    var wrong = false
    val error = try {
      span(0L, "op") { root =>
        if (op.kind == "query") {
          sc.setJobGroup(s"$id:build", op.text)
          val df = span(root, "queries.build")(_ => SparkEntry.queries(op.text)(spark, dir))
          sc.setJobGroup(s"$id:exec", op.text)
          span(root, "exec")(_ => df.write.format("noop").mode("overwrite").save())
        } else {
          sc.setJobGroup(s"$id:sql", op.kind)
          val df = span(root, "sql.call")(_ => GraftSql.sql(spark, op.text))
          sc.setJobGroup(s"$id:exec", op.kind)
          val rows = span(root, "exec")(_ => df.collect().toSeq)
          if (op.kind.startsWith("read")) wrong = canon(rows).sorted != op.expect.sorted
        }
      }
      ""
    } catch { case e: Throwable => firstLine(e) }
    finally sc.clearJobGroup()
    val ms = (System.nanoTime() - t0) / 1e6
    if (op.kind == "query") spark.catalog.clearCache()
    Result(id, op.kind, if (op.kind == "query") op.text else op.kind, ms, error.isEmpty,
      wrong, error)
  }

  /** Host speed: wall ms of a fixed integer kernel (no engine code) run on
    * `threads` threads at once. The host's CPU speed drifts by up to a
    * quarter over tens of seconds, and a whole run drifts with it.
    */
  def hostSpeedProbe(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var k = 0
        while (k < 10000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
        probeSink.addAndGet(x)
        ()
      })
      t.start()
      t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }
  private val probeSink = new java.util.concurrent.atomic.AtomicLong

  /** One-kernel probe queries over the generated columns: median ms of 5
    * after one warm-up execution.
    */
  def probes(spark: SparkSession, dir: String): Map[String, Double] = {
    val li = Tables.lineitem(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val qv = emb.filter(col("vec_id") < 100).select(col("embedding").as("q"))
    val docs = Tables.documents(spark, dir)
    val kernels: Seq[(String, DataFrame)] = Seq(
      "functions.money_sum_ms" -> li.agg(MoneyExpressions.moneySum(
        col("l_extendedprice") * (lit(1.0) - col("l_discount")))),
      "functions.vector_distance_ms" -> emb.crossJoin(broadcast(qv))
        .agg(max(VectorFunctions.l2Distance(col("embedding"), col("q")))),
      "functions.minhash_ms" -> docs.agg(max(element_at(TextFunctions.minhashSignature(
        TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3), 64), 1))))
    kernels.map { case (name, df) =>
      df.collect()
      val ms = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); df.collect(); (System.nanoTime() - t0) / 1e6
      }.sorted
      name -> ms(2)
    }.toMap
  }

  private val Stamp = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Result cells rendered as `run.py`'s model renders them. */
  def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case null => "NULL"
    case t: java.sql.Timestamp => t.toLocalDateTime.format(Stamp)
    case t: java.time.LocalDateTime => t.format(Stamp)
    case v => v.toString
  }.mkString("|"))

  def resultMap(r: Result): Map[String, Any] = Map("op" -> r.op, "kind" -> r.kind,
    "name" -> r.name, "ms" -> r.ms, "ok" -> r.ok, "wrong" -> r.wrong, "error" -> r.error)

  def firstLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
      .take(300)

  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq.filter(_.nonEmpty)

  def writeLines(path: String, ls: Seq[String]): Unit =
    Files.write(Paths.get(path), ls.mkString("", "\n", "\n").getBytes(UTF_8))
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
