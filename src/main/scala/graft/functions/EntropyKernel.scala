package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass token-distribution entropy over a token array — the kernel
  * behind [[graft.operators.TextAnalysis.tokenEntropy]].
  *
  * H = -Σ p·log2 p over the doc's unigram distribution (p = tf/n), plus
  * the type count — low entropy flags template/boilerplate/gibberish docs
  * that repetition fractions alone can miss (e.g. two tokens alternating
  * have dup_word_frac ≈ 1 but so does any short chant; entropy separates
  * them by how concentrated the distribution is).
  *
  * Cross-engine determinism: the inner Σ tf·ln(tf) runs over a hash map
  * whose iteration order is arbitrary, so each term QUANTIZES to a scaled
  * long (floor(x·1e6 + 0.5), the [[graft.operators.LmScore]] idiom) and
  * the longs sum exactly — the oracle's GROUP BY order and this map's
  * order cannot diverge. The final float steps are then one fixed
  * sequence: (ln n − (Σc6/1e6)/n) / ln 2, identical in the DuckDB oracle.
  */
object EntropyKernel {
  private val LN2 = Math.log(2.0)

  /** Returns (n_tok, n_types, entropy) as an InternalRow, or null for a
    * null/empty/null-element array. */
  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    if (n == 0) return null
    val counts = new java.util.HashMap[UTF8String, Int](n * 2)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      counts.merge(arr.getUTF8String(i), 1, (a, b) => a + b)
      i += 1
    }
    var c6 = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val tf = it.next().toDouble
      c6 += Math.floor(tf * Math.log(tf) * 1e6 + 0.5).toLong
    }
    val ent = (Math.log(n.toDouble) - c6.toDouble / 1e6 / n.toDouble) / LN2
    new GenericInternalRow(Array[Any](n.toLong, counts.size().toLong, ent))
  }
}

/** `token_entropy(tokens)` → struct<n_tok, n_types, entropy> — see
  * [[EntropyKernel]]. */
case class TokenEntropyExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tok", LongType, nullable = false),
    StructField("n_types", LongType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_entropy expects array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    EntropyKernel.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val out = ctx.freshName("entStats")
      s"""
         |InternalRow $out = graft.functions.EntropyKernel.compute($c);
         |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenEntropyExpr {
  /** Column-level entry point. */
  def token_entropy(tokens: Column): Column =
    ColumnShim.column(TokenEntropyExpr(ColumnShim.expression(tokens)))
}
