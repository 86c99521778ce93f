package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. `parent` is another span's id (0 = root); `op` is the
  * closed-loop operation it belongs to. Times are epoch microseconds.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startUs: Long, endUs: Long)

/** Work counted for one (op, phase) pair from Spark's task-end events. */
final class Counters {
  var jobs, stages, tasks, failures = 0L
  var runMs, cpuMs, waitMs, gcMs = 0L
  var scanBytes, scanRows, shuffleRead, shuffleWrite, spill = 0L
  var outBytes, outRows = 0L
  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_failures" -> failures,
    "task_run_ms" -> runMs, "task_cpu_ms" -> cpuMs, "task_wait_ms" -> waitMs,
    "gc_ms" -> gcMs, "scan_bytes" -> scanBytes, "scan_rows" -> scanRows,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "output_bytes" -> outBytes, "output_rows" -> outRows)
}

/** In-memory tracer for the traced run.
  *
  * The benchmark opens the harness spans itself (`op`, then `queries.build`
  * or `sql.call`, then `exec`) and tags every Spark job with the job group
  * `"<op>:<phase>"`. Spark's public listener hooks add the spans below
  * them: one per job and stage, and one per Catalyst phase taken from the
  * tracker of each executed QueryExecution (so nothing is planned twice).
  * Nothing is written until [[finish]].
  */
final class Tracer(spark: SparkSession) {
  private val nanoBase = System.nanoTime()
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  private var nextId = 0L
  private def newId(): Long = synchronized { nextId += 1; nextId }

  private val harness = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.Map.empty[Int, (String, Long, Long)] // id -> (group, start, end)
  private val ended = mutable.Set.empty[Int]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (stage, start, end)
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  val counters = mutable.Map.empty[String, Counters] // group -> counters
  @volatile private var lastEventMs = System.currentTimeMillis()

  /** Time `body` as a harness span; returns its result. */
  def span[T](op: Long, parent: Long, name: String)(body: Long => T): T = {
    val id = newId()
    val start = nowUs
    try body(id)
    finally synchronized { harness += Span(id, parent, op, name, start, nowUs) }
  }

  private def counter(group: String) = counters.getOrElseUpdate(group, new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs(e.jobId) = (group, e.time * 1000L, e.time * 1000L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      counter(group).jobs += 1
      lastEventMs = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { case (g, s, _) => jobs(e.jobId) = (g, s, e.time * 1000L) }
      ended += e.jobId
      lastEventMs = System.currentTimeMillis()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stageSubmit(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        for (s <- si.submissionTime; c <- si.completionTime)
          stageSpans += ((si.stageId, s * 1000L, c * 1000L))
        groupOfStage(si.stageId).foreach(g => counter(g).stages += 1)
        lastEventMs = System.currentTimeMillis()
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      groupOfStage(e.stageId).foreach { g =>
        val c = counter(g)
        c.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) c.failures += 1
        stageSubmit.get(e.stageId).foreach(s => c.waitMs += math.max(0L, e.taskInfo.launchTime - s))
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuMs += m.executorCpuTime / 1000000L
          c.gcMs += m.jvmGCTime
          c.scanBytes += m.inputMetrics.bytesRead
          c.scanRows += m.inputMetrics.recordsRead
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
          c.outBytes += m.outputMetrics.bytesWritten
          c.outRows += m.outputMetrics.recordsWritten
        }
      }
      lastEventMs = System.currentTimeMillis()
    }
  }

  private def groupOfStage(stage: Int): Option[String] =
    stageJob.get(stage).flatMap(jobs.get).map(_._1)

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      for ((phase, p) <- qe.tracker.phases
           if phase != "parsing" && p.endTimeMs >= p.startTimeMs)
        phases += ((phase, p.startTimeMs * 1000L, p.endTimeMs * 1000L))
      lastEventMs = System.currentTimeMillis()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait for Spark's asynchronous listener bus to deliver the traced
    * phase's events, then detach and return every span with its parent.
    */
  def finish(): Seq[Span] = {
    val deadline = System.currentTimeMillis() + 20000L
    def quiet = synchronized {
      jobs.keySet.subsetOf(ended) && System.currentTimeMillis() - lastEventMs > 1000L
    }
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(100)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    synchronized { resolve() }
  }

  /** Attach listener spans to harness spans: jobs by job group, stages by
    * job, Catalyst phases by the innermost harness span containing their
    * start.
    */
  private def resolve(): Seq[Span] = {
    val phaseSpan = mutable.Map.empty[(Long, String), Span]
    for (h <- harness if h.parent != 0) phaseSpan((h.op, phaseOf(h.name))) = h
    val jobSpans = jobs.toSeq.flatMap { case (id, (group, s, e)) =>
      group.split(':') match {
        case Array(op, phase) => phaseSpan.get((op.toLong, phase)).map(p =>
          id -> Span(newId(), p.id, p.op, "spark.job", s, e))
        case _ => None
      }
    }.toMap
    val stages = stageSpans.toSeq.flatMap { case (st, s, e) =>
      stageJob.get(st).flatMap(jobSpans.get).map(j =>
        Span(newId(), j.id, j.op, "spark.stage", s, e))
    }
    val catalyst = phases.toSeq.flatMap { case (phase, s, e) =>
      harness.filter(h => h.startUs <= s + 1000 && s <= h.endUs + 1000)
        .sortBy(h => h.endUs - h.startUs).headOption
        .map(h => Span(newId(), h.id, h.op, s"catalyst.$phase", s, e))
    }
    harness.toSeq ++ jobSpans.values ++ stages ++ catalyst
  }

  /** Phase tag used in the job group for a harness span name. */
  def phaseOf(name: String): String = name match {
    case "queries.build" => "build"
    case "sql.call" => "sql"
    case "exec" => "exec"
    case other => other
  }
}
