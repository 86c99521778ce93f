package graft.plans

import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{EmptyRelation, Filter, LocalRelation, LogicalPlan, LogicalQueryStage, Project, UnionLoop, UnionLoopRef}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, BroadcastDistribution, Distribution, Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{ExplainUtils, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.joins.{GraftHashedLookup, HashedRelationBroadcastMode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf

import scala.collection.mutable.ArrayBuffer

/** One Filter or Project of a recursive step, over rows laid out as `input`. */
sealed trait StepOp

case class StepFilter(condition: Expression, input: Seq[Attribute]) extends StepOp {
  override def toString: String = s"Filter $condition"
}

case class StepProject(list: Seq[NamedExpression], input: Seq[Attribute]) extends StepOp {
  override def toString: String = list.mkString("Project [", ", ", "]")
}

/** The step's inner equi-join of the frontier (rows laid out as
  * `frontierSide`, after the frontier-side ops) with the broadcast
  * relation S; `condition` is the residual over (left, right) rows.
  */
case class StepJoin(
    frontierSide: Seq[Attribute],
    frontierKeys: Seq[Expression],
    buildKeys: Seq[Expression],
    condition: Option[Expression],
    frontierIsLeft: Boolean) {
  override def toString: String =
    s"BroadcastProbe ${frontierKeys.mkString("[", ", ", "]")} = " +
      s"${buildKeys.mkString("[", ", ", "]")}${condition.map(c => s" AND $c").getOrElse("")}"
}

/** Plans a `WITH RECURSIVE` whose step is linear and row-local as one
  * [[RecursiveExpandExec]]; every other recursion keeps Spark's
  * `UnionLoopExec`.
  *
  * `UnionLoopExec` is a leaf holding logical plans: every level runs
  * `Dataset.ofRows` (analysis, optimization, planning), a
  * repartition-and-count job and the union's bookkeeping. rc1 (an
  * 8-level, 5,461-row hierarchy over 15,000 customers) ran 35 Spark jobs
  * and 8 planning passes that way. A row-local step — each new row comes
  * from exactly one frontier row — needs none of that: S is hashed and
  * broadcast once, and one task expands the anchor level by level.
  *
  * Accepted steps: `Project`/`Filter` chains over the `UnionLoopRef`, and
  * such chains over an `Inner` equi-join of that chain with a relation S
  * that does not reference the recursion. The strategy steps aside when
  * the CTE carries a LIMIT or max depth, the ref is accumulated, the step
  * holds any other operator, a non-deterministic expression, a subquery
  * or a Python UDF, or the anchor's or S's estimated size exceeds
  * `spark.sql.autoBroadcastJoinThreshold`.
  */
object RecursiveExpandStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case u: UnionLoop => expansion(u).toSeq
    case _ => Nil
  }

  private def expansion(u: UnionLoop): Option[SparkPlan] = {
    // AQE plans the loop again once this node's children have run as query
    // stages. Only this strategy puts stages (LogicalQueryStage leaves)
    // inside a UnionLoop, and UnionLoopExec cannot run over them, so that
    // decision must hold: a stage's run-time size (a hashed broadcast
    // carries its whole memory pages) is not tested against the
    // threshold again, and a step that AQE emptied because S ran empty
    // leaves the anchor alone.
    val staged = u.children.exists(_.exists(_.isInstanceOf[LogicalQueryStage]))
    val emptied = u.recursion match {
      case _: EmptyRelation => true
      case l: LocalRelation => l.data.isEmpty
      case _ => false
    }
    if (staged && emptied) {
      return Some(ProjectExec(u.anchor.output.zip(u.output).map { case (a, o) =>
        Alias(a, o.name)(o.exprId)
      }, planLater(u.anchor)))
    }
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    def fits(p: LogicalPlan) = staged || p.stats.sizeInBytes <= threshold
    def sameTypes(a: Seq[Expression], b: Seq[Expression]) = a.length == b.length &&
      a.zip(b).forall { case (x, y) => DataTypeUtils.sameType(x.dataType, y.dataType) }
    def ownRef(p: LogicalPlan) = p match {
      case r: UnionLoopRef => r.loopId == u.id && !r.accumulated
      case _ => false
    }
    if (u.limit.isDefined || u.maxDepth.isDefined || !u.recursion.deterministic ||
        u.recursion.exists(opaque) || hasRef(u.anchor) || !fits(u.anchor) ||
        !sameTypes(u.anchor.output, u.output) || !sameTypes(u.recursion.output, u.output)) {
      return None
    }
    val (base, ops) = chain(u.recursion)
    val stepOps = projected(ops, u.recursion.output)
    base match {
      case r if ownRef(r) =>
        Some(RecursiveExpandExec(u.output, r.output, stepOps, None, Nil,
          planLater(u.anchor), None))
      case ExtractEquiJoinKeys(Inner, leftKeys, rightKeys, condition, _, left, right, _) =>
        def probe(side: LogicalPlan, s: LogicalPlan, frontierKeys: Seq[Expression],
            buildKeys: Seq[Expression], frontierIsLeft: Boolean) = {
          val (sideBase, sideOps) = chain(side)
          if (!ownRef(sideBase) || hasRef(s) || !fits(s) || !sameTypes(frontierKeys, buildKeys)) None
          else Some(RecursiveExpandExec(u.output, sideBase.output, sideOps,
            Some(StepJoin(side.output, frontierKeys, buildKeys, condition, frontierIsLeft)),
            stepOps, planLater(u.anchor), Some(planLater(s))))
        }
        probe(left, right, leftKeys, rightKeys, frontierIsLeft = true)
          .orElse(probe(right, left, rightKeys, leftKeys, frontierIsLeft = false))
      case _ => None
    }
  }

  /** The Project/Filter chain on top of `p`, bottom-up, and what it sits on. */
  private def chain(p: LogicalPlan): (LogicalPlan, Seq[StepOp]) = p match {
    case Project(list, child) =>
      val (base, ops) = chain(child)
      (base, ops :+ StepProject(list, child.output))
    case Filter(condition, child) =>
      val (base, ops) = chain(child)
      (base, ops :+ StepFilter(condition, child.output))
    case other => (other, Nil)
  }

  /** `ops` ending in a projection to `output`, so each step row is an UnsafeRow. */
  private def projected(ops: Seq[StepOp], output: Seq[Attribute]): Seq[StepOp] =
    ops.lastOption match {
      case Some(_: StepProject) => ops
      case _ => ops :+ StepProject(output, output)
    }

  private def hasRef(p: LogicalPlan): Boolean = p.exists(_.isInstanceOf[UnionLoopRef])

  private def opaque(p: LogicalPlan): Boolean = p.expressions.exists(_.exists {
    case _: SubqueryExpression | _: PythonFuncExpression => true
    case _ => false
  })
}

/** A recursive CTE expanded in one task.
  *
  * Children: the anchor, required as one partition (`AllTuples`), and,
  * when the step joins, the relation S, required as a broadcast hashed on
  * the build keys, so S is hashed once for the whole recursion. The task
  * builds each level from the previous one only — frontier-side ops,
  * probe, residual condition, joined-side ops — and streams the levels in
  * order, so it holds at most two levels at a time.
  *
  * `spark.sql.cteRecursionLevelLimit` and `cteRecursionRowLimit` are
  * enforced exactly as `UnionLoopExec` enforces them: a non-empty level
  * numbered above the level limit (the anchor is level 1) raises
  * RECURSION_LEVEL_LIMIT_EXCEEDED before that level's rows are counted,
  * and reaching the row limit raises RECURSION_ROW_LIMIT_EXCEEDED.
  */
case class RecursiveExpandExec(
    output: Seq[Attribute],
    frontier: Seq[Attribute],
    frontierOps: Seq[StepOp],
    join: Option[StepJoin],
    joinedOps: Seq[StepOp],
    anchor: SparkPlan,
    build: Option[SparkPlan]) extends SparkPlan {

  override def children: Seq[SparkPlan] = anchor +: build.toSeq

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): RecursiveExpandExec =
    copy(anchor = newChildren.head, build = newChildren.lift(1))

  override def producedAttributes: AttributeSet = AttributeSet(output ++ frontier)

  override def outputPartitioning: Partitioning = SinglePartition

  override def requiredChildDistribution: Seq[Distribution] =
    AllTuples +: join.zip(build).map { case (j, s) =>
      BroadcastDistribution(
        HashedRelationBroadcastMode(BindReferences.bindReferences(j.buildKeys, s.output)))
    }.toSeq

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "recursionLevels" -> SQLMetrics.createMetric(sparkContext, "recursion levels"),
    "expandTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "time to expand"))

  private def stepString: String = (frontierOps ++ join ++ joinedOps).mkString(" -> ")

  override def simpleString(maxFields: Int): String =
    s"$nodeName ${output.mkString("[", ", ", "]")}, step: $stepString"

  override def verboseStringWithOperatorId(): String =
    s"""|$formattedNodeName
        |${ExplainUtils.generateFieldString("Output", output)}
        |${ExplainUtils.generateFieldString("Frontier", frontier)}
        |Step: $stepString
        |""".stripMargin

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val recursionLevels = longMetric("recursionLevels")
    val expandTime = longMetric("expandTime")
    val levelLimit = conf.getConf(SQLConf.CTE_RECURSION_LEVEL_LIMIT)
    val rowLimit = conf.getConf(SQLConf.CTE_RECURSION_ROW_LIMIT)
    val relation = build.map(_.executeBroadcast[AnyRef]())
    val probeJoin = join.map((_, build.get.output))
    val anchorOutput = anchor.output
    val (frontierRow, ops, joinedRowOps) = (frontier, frontierOps, joinedOps)
    anchor.execute().mapPartitions { anchorRows =>
      val step = RecursiveExpandExec.compileStep(frontierRow, ops,
        probeJoin.map { case (j, s) => (j, s, GraftHashedLookup.probe(relation.get.value)) },
        joinedRowOps)
      val levels = new RecursiveExpandExec.Levels(
        anchorRows.map(UnsafeProjection.create(anchorOutput, anchorOutput)), step,
        levelLimit, rowLimit, recursionLevels, expandTime)
      levels.map { r => numOutputRows += 1; r }
    }
  }
}

object RecursiveExpandExec {

  /** `ops` as one function; null means a filter dropped the row. The
    * result may be a reused buffer.
    */
  private def compile(ops: Seq[StepOp]): InternalRow => InternalRow = {
    val fs: Seq[InternalRow => InternalRow] = ops.map {
      case StepFilter(c, in) =>
        val p = Predicate.create(c, in)
        (r: InternalRow) => if (p.eval(r)) r else null
      case StepProject(list, in) =>
        val p = UnsafeProjection.create(list, in)
        (r: InternalRow) => p(r)
    }
    row => {
      var r = row
      val it = fs.iterator
      while (r != null && it.hasNext) r = it.next()(r)
      r
    }
  }

  /** The step as a function from one frontier row to the rows it yields. */
  private def compileStep(
      frontier: Seq[Attribute],
      frontierOps: Seq[StepOp],
      join: Option[(StepJoin, Seq[Attribute], InternalRow => Iterator[InternalRow])],
      joinedOps: Seq[StepOp]): InternalRow => Iterator[InternalRow] = {
    val onFrontier = compile(frontierOps)
    val onJoined = compile(joinedOps)
    join match {
      case None =>
        row => Option(onFrontier(row)).iterator
      case Some((j, buildOutput, lookup)) =>
        val key = UnsafeProjection.create(j.frontierKeys, j.frontierSide)
        val joinedSchema =
          if (j.frontierIsLeft) j.frontierSide ++ buildOutput else buildOutput ++ j.frontierSide
        val residual = j.condition.map(Predicate.create(_, joinedSchema))
        val joined = new JoinedRow
        row => {
          val f = onFrontier(row)
          val k = if (f == null) null else key(f)
          if (k == null || k.anyNull) Iterator.empty
          else lookup(k).flatMap { s =>
            if (j.frontierIsLeft) joined(f, s) else joined(s, f)
            if (residual.forall(_.eval(joined))) Option(onJoined(joined)) else None
          }
        }
    }
  }

  /** The anchor's rows, then each level built from the one before, with
    * both recursion limits checked per row as each level is built.
    */
  private class Levels(
      anchorRows: Iterator[InternalRow],
      step: InternalRow => Iterator[InternalRow],
      levelLimit: Int,
      rowLimit: Int,
      recursionLevels: SQLMetric,
      expandTime: SQLMetric) extends Iterator[InternalRow] {
    private var level = 0
    private var rows = 0L
    private var current: ArrayBuffer[InternalRow] = _
    private var pos = 0

    private def advance(): Unit = {
      val start = System.nanoTime()
      val next = new ArrayBuffer[InternalRow]
      def admit(r: InternalRow): Unit = {
        if (levelLimit != -1 && level + 1 > levelLimit) {
          throw new SparkException("RECURSION_LEVEL_LIMIT_EXCEEDED",
            Map("levelLimit" -> levelLimit.toString), null)
        }
        rows += 1
        if (rowLimit != -1 && rows >= rowLimit) {
          throw new SparkException("RECURSION_ROW_LIMIT_EXCEEDED",
            Map("rowLimit" -> rowLimit.toString), null)
        }
        next += r.copy()
      }
      if (current == null) anchorRows.foreach(admit)
      else current.foreach(step(_).foreach(admit))
      level += 1
      current = next
      pos = 0
      if (next.nonEmpty) recursionLevels.set(level)
      expandTime += System.nanoTime() - start
    }

    override def hasNext: Boolean = {
      while (current == null || (pos >= current.length && current.nonEmpty)) advance()
      pos < current.length
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      pos += 1
      current(pos - 1)
    }
  }
}
