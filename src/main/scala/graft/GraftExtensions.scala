package graft

import graft.functions.{CosineSimilarityExpr, InnerProductExpr, L2DistanceExpr}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Session extensions: registers graft's native Catalyst expressions under
  * the reference's SQL names so `spark.sql("... l2_distance(a, b) ...")`
  * plans the codegen'd kernel directly (no UDF wrapper).
  *
  * Usage: `SparkSession.builder().withExtensions(new GraftExtensions)` —
  * or `--conf spark.sql.extensions=graft.GraftExtensions` on a cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.0.0", "", "built-in")

  private def register(
      e: SparkSessionExtensions, name: String, usage: String,
      builder: Seq[Expression] => Expression): Unit =
    e.injectFunction((FunctionIdentifier(name), info(name, usage), builder))

  override def apply(e: SparkSessionExtensions): Unit = {
    // ANN top-k pushdown over registered IVF/HNSW indexes (no-op when none)
    e.injectPostHocResolutionRule(session => new graft.plans.IvfAnnRule(session))
    e.injectPostHocResolutionRule(session => new graft.plans.HnswAnnRule(session))
    e.injectPostHocResolutionRule(session => new graft.plans.IvfPqAnnRule(session))
    // partition pruning over Partitions-managed tables (no-op when none)
    e.injectOptimizerRule(session => new graft.plans.PartitionPruneRule(session))
    // WITH RECURSIVE over a row-local step: one task and one broadcast of
    // the joined relation instead of a planning pass and jobs per level
    e.injectPlannerStrategy(_ => graft.plans.RecursiveExpandStrategy)
    // elementwise vector arithmetic: `vec + vec`, `vec * scalar` — the
    // reference's vecf32/vecf64 operator family; resolves what Spark's
    // numeric-only BinaryArithmetic would reject
    e.injectResolutionRule(_ => VecArithRule)
    register(e, "l2_distance", "l2_distance(a, b) - euclidean distance of two vectors",
      args => L2DistanceExpr(args(0), args(1)))
    // the reference's SQL inner_product is the NEGATIVE dot product (a
    // distance, pkg/vectorindex/metric/distance_func.go:158-168 returns
    // -sum); the positive kernel stays internal for cosine/norm reuse
    register(e, "inner_product", "inner_product(a, b) - negative dot product (reference distance semantics)",
      args => org.apache.spark.sql.catalyst.expressions.UnaryMinus(
        InnerProductExpr(args(0), args(1)), failOnError = false))
    register(e, "cosine_similarity", "cosine_similarity(a, b)",
      args => CosineSimilarityExpr(args(0), args(1)))
    // single-pass JSON mutation program (chains fuse at build time);
    // MySQL's variadic (path, value)* pairs fold into one program
    def pathValuePairs(name: String,
        one: (org.apache.spark.sql.catalyst.expressions.Expression,
          org.apache.spark.sql.catalyst.expressions.Expression,
          org.apache.spark.sql.catalyst.expressions.Expression) =>
          org.apache.spark.sql.catalyst.expressions.Expression)(
        args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : org.apache.spark.sql.catalyst.expressions.Expression = {
      require(args.length >= 3 && args.length % 2 == 1,
        s"invalid argument function $name, bad value " +
          s"[${args.map(_.dataType.simpleString.toUpperCase).mkString(" ")}]")
      args.drop(1).grouped(2).foldLeft(args.head) {
        case (doc, Seq(p, v)) => one(doc, p, v)
        case (doc, _) => doc
      }
    }
    register(e, "json_insert", "json_insert(doc, (path, value)+)",
      pathValuePairs("json_insert", graft.functions.JsonMutateExpr.insert) _)
    register(e, "json_replace", "json_replace(doc, (path, value)+)",
      pathValuePairs("json_replace", graft.functions.JsonMutateExpr.replace) _)
    register(e, "json_set", "json_set(doc, (path, value)+)",
      pathValuePairs("json_set", graft.functions.JsonMutateExpr.set) _)
    register(e, "json_remove", "json_remove(doc, path+)",
      args => {
        require(args.length >= 2,
          s"invalid argument function json_remove, bad value length ${args.length}")
        args.tail.foldLeft(args.head)(graft.functions.JsonMutateExpr.remove)
      })
    register(e, "json_merge_patch", "json_merge_patch(target, patch+)",
      args => {
        require(args.length >= 2,
          s"invalid argument function json_merge_patch, bad value length ${args.length}")
        args.tail.foldLeft(args.head)(graft.functions.JsonMutateExpr.mergePatch)
      })
    register(e, "fulltext_match",
      "fulltext_match(text, query) - MATCH ... AGAINST predicate " +
        "(natural mode: any term; boolean mode: +must / -mustnot / should)",
      args => fulltextMatch(args(0), args(1)))
    register(e, "in_range",
      "in_range(v, lo, hi, mode) - range predicate; mode bit0 = strict " +
        "lower bound, bit1 = strict upper bound",
      args => inRange(args(0), args(1), args(2), args(3)))
    // hot geometry predicates as native expressions: foldable sides parse
    // once per operator, WKB binary operands accepted (GeoFunctions keeps
    // the WKT UDFs for the long tail)
    graft.functions.GeoPredicateExpr.ops.foreach { op =>
      val name = graft.functions.GeoPredicateExpr.sqlName(op)
      register(e, name, s"$name(g1, g2) - geometry predicate over WKT or WKB",
        args => graft.functions.GeoPredicateExpr(op, args(0), args(1)))
    }
  }

  /** The reference's zonemappable `in_range` operator
    * (`pkg/sql/plan/function/operator_between.go:372`; registry
    * `list_builtIn.go:3158`): mode 0 = [lo,hi], 1 = (lo,hi], 2 = [lo,hi),
    * 3 = (lo,hi). Expanded into plain comparison conjunctions so
    * Catalyst sees pushdown-able predicates; the STRICT null contract
    * (any NULL input → NULL) is pinned by the outer If, matching
    * `inRangeFixed`'s null handling.
    */
  private def inRange(v: Expression, lo: Expression, hi: Expression,
      mode: Expression): Expression = {
    def expand(m: Int): Expression = And(
      if ((m & 1) == 0) GreaterThanOrEqual(v, lo) else GreaterThan(v, lo),
      if ((m & 2) == 0) LessThanOrEqual(v, hi) else LessThan(v, hi))
    val body = mode match {
      case Literal(m, _) if m != null => expand(m.toString.toInt)
      case _ => CaseWhen(
        (0 to 3).map(m => (EqualTo(Cast(mode, org.apache.spark.sql.types.IntegerType),
          Literal(m)), expand(m))), None)
    }
    If(Or(Or(IsNull(v), IsNull(lo)), IsNull(hi)),
      Literal(null, org.apache.spark.sql.types.BooleanType), body)
  }

  /** Expand `fulltext_match(text, query)` into token-set expressions at
    * function-resolution time — the reference's MATCH...AGAINST predicate
    * (relevance > 0 semantics; `pkg/fulltext/fulltext.go:731` boolean
    * parser). Literal queries get boolean-mode parsing; non-literal
    * queries fall back to any-term-overlap. Scoring lives in
    * `graft.fulltext.Bm25` (needs corpus stats, not expression-local).
    */
  private def fulltextMatch(text: Expression, query: Expression): Expression = {
    def tokensOf(e: Expression): Expression =
      StringSplit(Lower(StringTrim(e)), Literal("\\s+"), Literal(-1))
    val tk = tokensOf(text)
    def has(term: String): Expression = ArrayContains(tk, Literal(UTF8String.fromString(term), StringType))
    query match {
      case Literal(s: UTF8String, StringType) =>
        val toks = s.toString.toLowerCase.split("\\s+").filter(_.nonEmpty)
        val must = toks.filter(_.startsWith("+")).map(_.drop(1)).filter(_.nonEmpty)
        val mustNot = toks.filter(_.startsWith("-")).map(_.drop(1)).filter(_.nonEmpty)
        val should = toks.filterNot(t => t.startsWith("+") || t.startsWith("-"))
        val positive: Expression =
          if (must.nonEmpty) must.map(has).reduce[Expression](And)
          else if (should.nonEmpty) should.map(has).reduce[Expression](Or)
          else Literal(false)
        mustNot.map(t => Not(has(t)): Expression).foldLeft(positive)(And)
      case q => ArraysOverlap(tk, tokensOf(q))
    }
  }
}

/** Resolves arithmetic over vector (array) operands into the elementwise
  * [[graft.functions.VecArithExpr]] — Spark's BinaryArithmetic is
  * numeric-only, the reference's `+ - * /` accept vecf32/vecf64 with
  * scalar broadcast (`vector/vector_func.sql`).
  */
object VecArithRule
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.types.{ArrayType, NumericType}

  private def vecOperand(x: Expression): Boolean = x.dataType match {
    case ArrayType(_: NumericType, _) => true
    case _ => false
  }
  private def numOrVec(x: Expression): Boolean =
    vecOperand(x) || x.dataType.isInstanceOf[NumericType]
  private def applies(l: Expression, r: Expression): Boolean =
    l.resolved && r.resolved && (vecOperand(l) || vecOperand(r)) &&
      numOrVec(l) && numOrVec(r)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveExpressions {
    case a @ Add(l, r, _) if applies(l, r) =>
      graft.functions.VecArithExpr(l, r, '+')
    case s @ Subtract(l, r, _) if applies(l, r) =>
      graft.functions.VecArithExpr(l, r, '-')
    case m @ Multiply(l, r, _) if applies(l, r) =>
      graft.functions.VecArithExpr(l, r, '*')
    case d @ Divide(l, r, _) if applies(l, r) =>
      graft.functions.VecArithExpr(l, r, '/')
  }
}
