package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass repetition statistics over a token array — the imperative
  * kernel behind [[graft.operators.TextAnalysis.repetitionStats]].
  *
  * Semantics are bit-identical to the composable HOF form (kept as
  * `repetitionStatsHof`, equality-tested): dup_word_frac =
  * 1 - |distinct|/n; top_word_frac = max word multiplicity / n (the HOF
  * computes it as the longest run in the sorted array — same number);
  * dup_2gram_frac = 1 - |distinct bigrams|/(n-1), 0 when n < 2. The same
  * IEEE operations in the same order, so r4 rounding cannot diverge.
  *
  * Why: every HOF in the composable form (aggregate over sort_array,
  * array_distinct lambdas) is CodegenFallback — interpreted per element
  * with Column-tree overhead per step. This kernel is one compiled loop
  * with two hash tables, invoked once per row from inside the codegen'd
  * projection (the [[BpeEncodeCount]] pattern). */
object RepetitionKernel {
  /** Returns (dup_word_frac, top_word_frac, dup_2gram_frac) as an
    * InternalRow, or null for a null/empty/null-element array. */
  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    if (n == 0) return null
    // ONE hash pass: the counting loop interns each token to a dense id
    // and records per-position ids, so the bigram pass below is a pure
    // array walk — no second map, no re-hashing of all n tokens
    val idMap = new java.util.HashMap[UTF8String, Integer](n * 2)
    val ids = new Array[Int](n)
    val cnt = new Array[Int](n) // at most n distinct ids
    var nextId = 0
    var i = 0
    var maxFreq = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val w = arr.getUTF8String(i)
      val got = idMap.get(w)
      val id = if (got != null) got.intValue()
      else { idMap.put(w, Integer.valueOf(nextId)); nextId += 1; nextId - 1 }
      ids(i) = id
      cnt(id) += 1
      if (cnt(id) > maxFreq) maxFreq = cnt(id)
      i += 1
    }
    val nDistinct = nextId
    var dupBg = 0.0
    if (n >= 2) {
      // bigram identity via the interned ids packed into one long — an
      // EXACT pair key (no hash collisions) without allocating n-1
      // concatenated strings per row
      val bigrams = new java.util.HashSet[Long](n * 2)
      var distinctBg = 0
      var j = 0
      while (j < n - 1) {
        if (bigrams.add(ids(j).toLong << 32 | (ids(j + 1).toLong & 0xffffffffL)))
          distinctBg += 1
        j += 1
      }
      dupBg = 1.0 - distinctBg.toDouble / (n - 1).toDouble
    }
    new GenericInternalRow(Array[Any](
      1.0 - nDistinct.toDouble / n.toDouble,
      maxFreq.toDouble / n.toDouble,
      dupBg))
  }
}

/** `repetition_stats(tokens)` → struct<dup_word_frac, top_word_frac,
  * dup_2gram_frac> — see [[RepetitionKernel]]. */
case class RepetitionStatsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("dup_word_frac", DoubleType, nullable = false),
    StructField("top_word_frac", DoubleType, nullable = false),
    StructField("dup_2gram_frac", DoubleType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"repetition_stats expects array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    RepetitionKernel.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val out = ctx.freshName("repStats")
      s"""
         |InternalRow $out = graft.functions.RepetitionKernel.compute($c);
         |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionStatsExpr {
  /** Column-level entry point. */
  def repetition_stats(tokens: Column): Column =
    ColumnShim.column(RepetitionStatsExpr(ColumnShim.expression(tokens)))
}
