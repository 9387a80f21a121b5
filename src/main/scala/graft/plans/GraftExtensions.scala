package graft.plans

import graft.functions.{CosineSim, DotProduct, MetaExpr, MetaParser, RepetitionStatsExpr,
  SrpBucketsExpr, TokenEntropyExpr}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Optimizer rule: rewrite the composable higher-order-function cosine
  * pattern (`aggregate(zip_with(a,b,*), 0.0, +) / (sqrt(aggregate(a,0.0,
  * acc+x*x)) * sqrt(aggregate(b,...)))` — what [[graft.functions.VectorOps]]
  * and hand-written user code produce) into the fused codegen kernel
  * [[graft.functions.CosineSim]]. HOFs are CodegenFallback (interpreted per
  * element, intermediate array per call); the kernel is one codegen'd loop —
  * measured 38x at 4M pairs (BASELINE.md) with bit-identical results
  * (CosineSimSpec). A miss on any sub-pattern leaves the tree unchanged.
  */
object ReplaceCosineHof extends Rule[LogicalPlan] {

  /** Strip the to-double cast VectorOps inserts — but ONLY when the cast's
    * source is already a float/double array, which CosineSim reads natively
    * with identical results. Stripping unconditionally would hand CosineSim
    * e.g. an array<int> child inside the optimizer, where
    * checkInputDataTypes never re-runs — its element reads would then pull
    * 8 bytes from 4-byte slots, returning garbage with no error. Any other
    * source type keeps the cast, so the kernel still sees array<double>. */
  private def base(e: Expression): Expression = e match {
    case Cast(c, ArrayType(DoubleType, _), _, _) => c.dataType match {
      case ArrayType(org.apache.spark.sql.types.FloatType | DoubleType, _) => c
      case _ => e
    }
    case other => other
  }

  /** The lambda `(p,q) => p*q` (either operand order) over exactly its own
    * two DISTINCT arguments — `(x,y) => x*x` must NOT match (not a dot
    * product), nor may an operand be a capture from an enclosing lambda. */
  private def isPairwiseProduct(lf: LambdaFunction): Boolean = lf match {
    case LambdaFunction(Multiply(p: NamedLambdaVariable, q: NamedLambdaVariable, _), args, _)
      if args.size == 2 =>
      val ids = args.map(_.exprId)
      ids.distinct.size == 2 && p.exprId != q.exprId && Set(p.exprId, q.exprId) == ids.toSet
    case _ => false
  }

  /** The lambda `(acc,x) => acc+x` (either operand order), operands bound to
    * exactly the lambda's two arguments. */
  private def isPlainSum(lf: LambdaFunction): Boolean = lf match {
    case LambdaFunction(Add(p: NamedLambdaVariable, q: NamedLambdaVariable, _), args, _)
      if args.size == 2 =>
      val ids = args.map(_.exprId)
      ids.distinct.size == 2 && p.exprId != q.exprId && Set(p.exprId, q.exprId) == ids.toSet
    case _ => false
  }

  /** aggregate()'s implicit finish lambda `acc => acc`; anything else
    * post-processes the sum and must block the rewrite. */
  private def isIdentityFinish(lf: LambdaFunction): Boolean = lf match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(arg), _) => v.exprId == arg.exprId
    case _ => false
  }

  private object DotAgg {
    /** aggregate(zip_with(a, b, (x,y) => x*y), 0.0, (acc,x) => acc+x) */
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case ArrayAggregate(
        ZipWith(a, b, mul: LambdaFunction),
        Literal(0.0, DoubleType),
        merge: LambdaFunction, finish: LambdaFunction)
        if isPairwiseProduct(mul) && isPlainSum(merge) && isIdentityFinish(finish) =>
        Some((a, b))
      case _ => None
    }
  }

  private object NormSqAgg {
    /** aggregate(a, 0.0, (acc,x) => acc + x*x) — acc bound to the lambda's
      * accumulator argument, x (twice) to its element argument. */
    def unapply(e: Expression): Option[Expression] = e match {
      case ArrayAggregate(a, Literal(0.0, DoubleType),
        LambdaFunction(Add(acc: NamedLambdaVariable,
          Multiply(x1: NamedLambdaVariable, x2: NamedLambdaVariable, _), _), args, _),
        finish: LambdaFunction)
        if args.size == 2 && acc.exprId == args.head.exprId &&
          x1.exprId == x2.exprId && x1.exprId == args(1).exprId &&
          isIdentityFinish(finish) => Some(a)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // The replaced Divide's own evalMode decides zero-denominator behavior
    // (ANSI throws, LEGACY/TRY null) — propagated, not re-read from the
    // conf, so the rewrite is semantics-preserving even if the conf changed
    // between analysis and optimization.
    // Spark 4.1 wraps the mode in NumericEvalContext — compare the
    // contained evalMode (a bare `ctx == EvalMode.ANSI` type-mismatches
    // and is ALWAYS false, silently downgrading ANSI throw-on-zero to
    // null: caught as a scalac warning in r11)
    case Divide(DotAgg(a, b), Multiply(Sqrt(NormSqAgg(na)), Sqrt(NormSqAgg(nb)), _), ctx)
      if a.semanticEquals(na) && b.semanticEquals(nb) =>
      CosineSim(base(a), base(b), failOnError = ctx.evalMode == EvalMode.ANSI)
  }
}

/** Production wiring: `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * registers every function in [[GraftExtensions.functions]] and the
  * HOF-cosine rewrite on every session — the full curation-function
  * surface is usable from plain `spark.sql` without touching the Scala
  * API. Tests inject the rule via `spark.experimental.extraOptimizations`
  * (runtime-settable on an existing session) and the functions via
  * [[GraftExtensions.register]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => ReplaceCosineHof)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  /** A builder that refuses any argument count but `n`. */
  private def exactly(name: String, n: Int)(mk: Builder): Builder = exprs => {
    require(exprs.length == n,
      s"$name requires exactly $n argument${if (n == 1) "" else "s"}, got ${exprs.length}")
    mk(exprs)
  }

  private def fn(name: String, exprInfoCls: Class[_], builder: Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(exprInfoCls.getName, name), builder)

  /** Every SQL function the engine adds, as (identifier, info, builder):
    * the kernels (cosine_sim, dot_product, repetition_stats,
    * token_entropy, srp_buckets) and each binary parser in
    * [[MetaParser.all]] (image_dims, audio_meta, …). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("cosine_sim", classOf[CosineSim],
      exactly("cosine_sim", 2)(e => CosineSim(e(0), e(1)))),
    fn("dot_product", classOf[DotProduct],
      exactly("dot_product", 2)(e => DotProduct(e(0), e(1)))),
    fn("repetition_stats", classOf[RepetitionStatsExpr],
      exactly("repetition_stats", 1)(e => RepetitionStatsExpr(e.head))),
    fn("token_entropy", classOf[TokenEntropyExpr],
      exactly("token_entropy", 1)(e => TokenEntropyExpr(e.head))),
    fn("srp_buckets", classOf[SrpBucketsExpr], SrpBucketsExpr.fromSql)) ++
    MetaParser.all.map(p =>
      fn(p.name, classOf[MetaExpr], exactly(p.name, 1)(e => MetaExpr(e.head, p))))

  /** Register [[functions]] on an existing session. */
  def register(spark: SparkSession): Unit = functions.foreach { case (id, info, builder) =>
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }
}
