package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** All sign-random-projection bucket ids for one vector in ONE fused pass —
  * the multi-table kernel behind
  * [[graft.operators.Dedup.embeddingNearDupsBlocked]] and
  * [[graft.operators.Similarity.lshTopK]].
  *
  * The composable form builds `tables × nbits` separate [[DotProduct]]
  * expressions plus a `when`-sum per table — at the auto-sized qe7b setting
  * (39 tables × 6 bits) that is 234 expression subtrees whose generated
  * projection blows past JIT inlining budgets. This kernel evaluates the
  * whole hyperplane matrix against the vector in one compiled loop and
  * returns `array<long>` of length `tables` (index = table id), so the
  * bucketing projection is `posexplode(srp_buckets(v))` regardless of how
  * many tables recall sizing demands.
  *
  * Bit-parity contract with the composable form (asserted in DedupSpec):
  * per hyperplane the accumulation is the same ascending-index
  * `dot += v(j)·h(j)` double sequence as [[DotProduct]]; bit i of table t
  * sets iff that dot > 0; a null element nulls every dot, which the
  * `when(dot > 0, …).otherwise(0)` composition folds to bucket 0 — the
  * kernel returns all-zero buckets for that row identically. Hyperplanes
  * come from the same seeded generator ([[SrpBuckets.hyperplanes]], table t
  * seeded `seedBase + t`).
  */
object SrpBuckets {
  /** Fixed seeded Gaussian hyperplanes — single source of truth for every
    * SRP consumer (Similarity delegates here). */
  def hyperplanes(nbits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nbits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Row-major flattened hyperplane matrix: plane (t, i) occupies
    * [(t·nbits + i)·dim, …+dim). */
  private[functions] def planeMatrix(tables: Int, nbits: Int, dim: Int,
                                     seedBase: Long): Array[Double] = {
    val m = new Array[Double](tables * nbits * dim)
    var t = 0
    while (t < tables) {
      val hp = hyperplanes(nbits, dim, seedBase + t)
      var i = 0
      while (i < nbits) {
        val row = hp(i)
        var j = 0
        while (j < dim) {
          m((t * nbits + i) * dim + j) = row(j)
          j += 1
        }
        i += 1
      }
      t += 1
    }
    m
  }

  /** Kernel entry invoked from generated code. `isFloat` is resolved once
    * from the static element type. */
  def compute(arr: ArrayData, planes: Array[Double], tables: Int, nbits: Int,
              dim: Int, isFloat: Boolean): ArrayData = {
    val n = arr.numElements()
    if (n != dim) throw new IllegalStateException(
      s"srp_buckets: embedding dim mismatch: expected $dim, got $n")
    val out = new Array[Long](tables)
    var j = 0
    while (j < n) {
      // null element -> every hyperplane dot is null -> every bit's
      // when(dot > 0) folds to 0: all-zero buckets, same as the HOF form.
      // HAZARD: every such row therefore lands in bucket 0 of EVERY table,
      // forming a quadratic hot bucket if many reach candidate generation —
      // callers must pre-filter null-element vectors (as
      // Dedup.embeddingNearDupsBlocked does); they can never verify anyway
      if (arr.isNullAt(j)) return ArrayData.toArrayData(out)
      j += 1
    }
    val v = new Array[Double](n)
    j = 0
    while (j < n) {
      v(j) = if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
      j += 1
    }
    var off = 0
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var i = 0
      while (i < nbits) {
        var dot = 0.0
        var k = 0
        while (k < dim) {
          dot += v(k) * planes(off + k)
          k += 1
        }
        if (dot > 0) bucket |= (1L << i)
        off += dim
        i += 1
      }
      out(t) = bucket
      t += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** `srp_buckets(v)` → array<long> of length `tables` — see [[SrpBuckets]]. */
case class SrpBucketsExpr(child: Expression, tables: Int, nbits: Int,
                          dim: Int, seedBase: Long) extends UnaryExpression {
  require(tables >= 1, s"srp_buckets: tables must be >= 1, got $tables")
  require(nbits >= 1 && nbits <= 64,
    s"srp_buckets: nbits must be in [1,64], got $nbits")
  require(dim >= 1, s"srp_buckets: dim must be >= 1, got $dim")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == FloatType || t == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"srp_buckets expects array<float|double>, got $t")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val planes: Array[Double] =
    SrpBuckets.planeMatrix(tables, nbits, dim, seedBase)

  override def nullSafeEval(input: Any): Any =
    SrpBuckets.compute(input.asInstanceOf[ArrayData], planes, tables, nbits,
      dim, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("srpPlanes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.SrpBuckets.compute(
       |  $c, $planesRef, $tables, $nbits, $dim, $isFloat);
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SrpBucketsExpr {
  /** Column-level entry point. */
  def srp_buckets(v: Column, tables: Int, nbits: Int, dim: Int,
                  seedBase: Long): Column =
    ColumnShim.column(SrpBucketsExpr(ColumnShim.expression(v), tables, nbits,
      dim, seedBase))

  private def litLong(e: Expression, name: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, LongType) => v
    case other => throw new IllegalArgumentException(
      s"srp_buckets: $name must be an integer literal, got $other")
  }

  /** SQL builder: srp_buckets(v, tables, nbits, dim, seed) — knob
    * arguments must be integer literals (they parameterize the hyperplane
    * matrix built once on the driver). */
  def fromSql(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 5,
      s"srp_buckets requires (v, tables, nbits, dim, seed), got ${exprs.length} args")
    SrpBucketsExpr(exprs.head,
      litLong(exprs(1), "tables").toInt, litLong(exprs(2), "nbits").toInt,
      litLong(exprs(3), "dim").toInt, litLong(exprs(4), "seed"))
  }
}
