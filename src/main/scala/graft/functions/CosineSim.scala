package graft.functions

import org.apache.spark.QueryContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, SupportQueryContext}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Fused cosine similarity over two float/double array columns — a native
  * Catalyst expression with whole-stage codegen.
  *
  * Rationale (SURVEY §4.2 extension point c): the composable form
  * (`aggregate(zip_with(...))`, VectorOps.cosine) is built from higher-order
  * functions, which are CodegenFallback — interpreted per element, with an
  * intermediate product array allocated per pair. Inside an ANN cross join
  * that cost is paid |queries|·|candidates| times. This kernel is one
  * codegen'd loop, no allocation: dot, |a|² and |b|² accumulated in a single
  * pass, left-to-right in index order — bit-identical to VectorOps.cosine
  * and to the DuckDB oracle formula `dot / (sqrt(na) * sqrt(nb))`.
  *
  * Null semantics mirror the HOF composition exactly (so ReplaceCosineHof is
  * semantics-preserving): null when either array is null, when lengths
  * differ (zip_with pads with null), or when any element is null. A zero
  * denominator (a zero-norm vector with non-null elements) follows the
  * session's Divide semantics: under ANSI mode (Spark 4's default) it throws
  * DIVIDE_BY_ZERO exactly like the HOF form's `Divide`; with ANSI off it
  * returns null. `failOnError` is captured at construction on the driver,
  * like Divide's evalMode, so optimized and unoptimized plans agree. The
  * per-element null checks are only emitted when the static array type has
  * `containsNull = true` — vectors read from a non-null schema pay nothing.
  *
  * Deliberate duplication note: the type-check/element-read scaffolding
  * here overlaps [[BinaryArrayFoldKernel]] (single-accumulator folds).
  * Cosine needs THREE accumulators (dot, |a|², |b|²) plus the captured
  * ANSI-divide tail, and generalizing the shared scaffold to
  * multi-accumulator codegen would churn the hottest kernel in the
  * engine for a maintainability win only — both kernels are
  * bit-parity-pinned against their composable twins, which is the
  * actual drift guard. Revisit only if a THIRD multi-accumulator kernel
  * appears.
  */
case class CosineSim(
    left: Expression,
    right: Expression,
    failOnError: Boolean = SQLConf.get.ansiEnabled)
  extends BinaryExpression with SupportQueryContext {

  override def initQueryContext(): Option[QueryContext] =
    if (failOnError) Some(origin.context) else None

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(lt, _), ArrayType(rt, _))
      if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float|double>, got ${left.dataType} and ${right.dataType}")
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private def mayHaveNullElems(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lt, rt) = (elemType(left), elemType(right))
    val n = x.numElements()
    if (n != y.numElements()) return null
    if (mayHaveNullElems(left) || mayHaveNullElems(right)) {
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        i += 1
      }
    }
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lt == FloatType) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rt == FloatType) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) {
      if (failOnError) throw ColumnShim.divideByZeroError(getContextOrNull())
      null
    } else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def read(arr: String, t: DataType, i: String): String =
      if (t == FloatType) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
    val (lt, rt) = (elemType(left), elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (dot, na, nb, n, i, denom) = (ctx.freshName("dot"), ctx.freshName("na"),
        ctx.freshName("nb"), ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("denom"))
      val nullElemCheck =
        if (mayHaveNullElems(left) || mayHaveNullElems(right))
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      // A null element makes the result null (matching zip_with/aggregate);
      // a genuine zero denominator follows the session's Divide semantics.
      val zeroDenom =
        if (failOnError) {
          val errCtx = getContextOrNullCode(ctx)
          s"throw org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError($errCtx);"
        } else s"${ev.isNull} = true;"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullElemCheck
         |    double xi = ${read(a, lt, i)};
         |    double yi = ${read(b, rt, i)};
         |    $dot += xi * yi; $na += xi * xi; $nb += yi * yi;
         |  }
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if (${ev.isNull}) { }
         |  else if ($denom == 0.0) { $zeroDenom }
         |  else { ${ev.value} = $dot / $denom; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
      : Expression = copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Column-level entry point. */
  def cosine_sim(a: Column, b: Column): Column =
    ColumnShim.column(CosineSim(ColumnShim.expression(a), ColumnShim.expression(b)))
}
