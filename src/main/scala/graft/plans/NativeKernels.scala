package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.functions.{CosineSim, DotProduct}

/** Optimizer rule rewriting the composable vector-kernel patterns into the
  * native codegen'd expressions — the engine accelerates naive user code:
  *
  *   aggregate(zip_with(a, b, (x,y) → double(x)*double(y)), 0.0, (acc,e) → acc+e)
  *     ⇒ graft_dot(a, b)
  *   graft_dot(a,b) / (sqrt(graft_dot(a,a)) · sqrt(graft_dot(b,b)))
  *     ⇒ graft_cosine(a, b)
  *
  * The composable form allocates a lambda-evaluated intermediate array and
  * boxes every element (CodegenFallback on higher-order functions); the
  * native kernels are a single fused primitive loop inside whole-stage
  * codegen. The match is deliberately strict so the rewrite is
  * bit-identical, not merely "close": the multiply must be over
  * double-cast elements (a float×float multiply rounds the product to
  * float32 — different numerics, so that shape is left alone), the fold
  * zero must be literal 0.0, and the finish lambda must be identity.
  * Given that, kernel and builtin agree on EVERY input — same IEEE ops in
  * the same order, and the same NULL semantics (length mismatch, null
  * element, zero-norm cosine divisor all yield NULL in both forms) — so
  * the rewrite needs no nullability guard and fires directly on
  * parquet-sourced columns (whose list elements always read as nullable).
  * Pinned in NativeKernelsSpec.
  */
object NativeKernelRule extends Rule[LogicalPlan] {

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** The given lambda variable itself (no cast). */
  private def isVar(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case nlv: NamedLambdaVariable => nlv.exprId == v.exprId
    case _ => false
  }

  /** The given lambda variable behind an exact cast to double. */
  private def isDoubledVar(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case Cast(nlv: NamedLambdaVariable, DoubleType, _, _) => nlv.exprId == v.exprId
    case _ => false
  }

  private object DotShape {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case ArrayAggregate(
          ZipWith(a, b,
            LambdaFunction(Multiply(ml, mr, _),
              Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          Literal(0.0, DoubleType),
          LambdaFunction(Add(al, ar, _),
            Seq(acc: NamedLambdaVariable, el: NamedLambdaVariable), _),
          LambdaFunction(fin: NamedLambdaVariable, Seq(fv: NamedLambdaVariable), _))
        if isFloatArray(a) && isFloatArray(b) &&
          ((isDoubledVar(ml, x) && isDoubledVar(mr, y)) ||
           (isDoubledVar(ml, y) && isDoubledVar(mr, x))) &&
          ((isVar(al, acc) && isVar(ar, el)) || (isVar(al, el) && isVar(ar, acc))) &&
          fin.exprId == fv.exprId =>
        Some((a, b))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val dotted = plan.transformAllExpressions {
      case DotShape(a, b) => DotProduct(a, b)
    }
    dotted.transformAllExpressions {
      case Divide(
          DotProduct(a, b),
          Multiply(Sqrt(DotProduct(a1, a2)), Sqrt(DotProduct(b1, b2)), _), _)
        if a1.semanticEquals(a2) && b1.semanticEquals(b2) &&
          ((a.semanticEquals(a1) && b.semanticEquals(b1)) ||
           (a.semanticEquals(b1) && b.semanticEquals(a1))) =>
        CosineSim(a, b)
    }
  }
}

/** `spark.sql.extensions`-compatible registration (zero-arg class
  * instantiated by reflection) — also usable via
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  * Besides the optimizer rule, exposes the native kernels to SQL as
  * `graft_dot(a, b)` / `graft_cosine(a, b)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private def binary(name: String, make: (Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[NativeKernelRule.type].getName, name),
      { args =>
        require(args.length == 2, s"$name takes exactly 2 arguments, got ${args.length}")
        make(args(0), args(1))
      })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => NativeKernelRule)
    ext.injectOptimizerRule(_ => MatViewRewriteRule)
    ext.injectResolutionRule(spark => TtSqlMergeRule(spark))
    // src37 — the RESTORE TABLE statement Spark's grammar lacks;
    // everything else delegates to the session's own parser
    ext.injectParser((_, delegate) => new TtSqlParser(delegate))
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectFunction(binary("graft_dot", DotProduct))
    ext.injectFunction(binary("graft_cosine", CosineSim))
    // src43 — `table_changes('name', from, to)`: the change feed's SQL
    // spelling as a TABLE-VALUED FUNCTION (Delta's table_changes),
    // resolved at analysis to the CDF plan over the registered tt store
    ext.injectTableFunction((FunctionIdentifier("table_changes"),
      new ExpressionInfo(classOf[TtTableChanges.type].getName, "table_changes"),
      (args: Seq[Expression]) => TtTableChanges.plan(args)))
  }
}

/** src43 — the `table_changes` TVF body: literal args (table name in the
  * tt catalog, from-version, to-version) resolve to the row-level change
  * feed between the two versions — up15's `ttChanges` (net file diff +
  * bag difference; cost ∝ churn, never the table) with `_change_type`
  * ∈ {insert, delete}. The TVF builder runs at ANALYSIS time, so the
  * returned plan is the analyzed CDF read — Spark inlines it like any
  * table subquery, and every downstream clause (WHERE/GROUP BY/JOIN)
  * composes. Delta spells this `table_changes('t', v1[, v2])` too, with
  * one documented convention gap (r17 advice #3): Delta's bounds are
  * INCLUSIVE COMMIT versions (start=v includes v's changes, start=end
  * valid), while here `from` is the EXCLUSIVE base snapshot — the rows
  * turning snapshot `from` into snapshot `to`, i.e. commits
  * `from+1 .. to`, so graft's (0, 1) equals Delta's (1, 1) and
  * from=to would be the empty feed (refused as a near-certain
  * off-by-one). The upper bound may be OMITTED (r17 verdict #6 —
  * arity-2 form, Delta's default): it resolves to the table's head
  * version at analysis time.
  */
object TtTableChanges {
  private def lit(e: Expression, what: String): Any = e match {
    case l: Literal => l.value
    case other => throw new IllegalArgumentException(
      s"table_changes: $what must be a literal, got $other")
  }

  def plan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2 || args.length == 3,
      s"table_changes(table, fromVersion[, toVersion]) takes 2 or 3 " +
        s"arguments, got ${args.length}")
    val name = String.valueOf(lit(args(0), "the table name"))
      .stripPrefix("tt.")
    val spark = org.apache.spark.sql.SparkSession.active
    val dir = TtSqlParser.dirOf(name)
    // each bound is a VERSION (integer literal) or a TIMESTAMP (string
    // literal, 'yyyy-MM-dd HH:mm:ss' in the session's UTC clock) — the
    // Delta spelling accepts either; an instant floors to the newest
    // version committed at-or-before it (src34's TIMESTAMP AS OF rule)
    def versionOf(e: Expression, what: String): Int =
      lit(e, what) match {
        case n: Number => n.intValue
        case ts: org.apache.spark.unsafe.types.UTF8String =>
          val ms = java.time.LocalDateTime
            .parse(ts.toString.trim.replace(' ', 'T'))
            .atZone(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
          graft.ops.Mutations.ttVersionAt(spark, dir, ms)
        case other => throw new IllegalArgumentException(
          s"table_changes: $what must be an integer version or a " +
            s"'yyyy-MM-dd HH:mm:ss' timestamp string, got $other")
      }
    val from = versionOf(args(1), "fromVersion")
    // arity-2: open-ended upper bound, defaulting to the head version
    // at analysis time (Delta's omitted-end rule)
    val to = if (args.length == 3) versionOf(args(2), "toVersion")
      else graft.sources.TtLog.head(spark, dir)
    require(from < to,
      s"table_changes: fromVersion $from must be < toVersion $to")
    graft.ops.Mutations.ttChanges(spark, dir, from, to)
      .queryExecution.analyzed
  }
}
