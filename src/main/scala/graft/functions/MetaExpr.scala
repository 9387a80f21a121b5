package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{BinaryType, DataType, StructType}

/** One binary wire format → metadata struct. The implementing object owns
  * its SQL `name`, the struct `schema`, and `compute`, which builds rows of
  * exactly that schema (null when the payload is refused) — the schema and
  * the row builder sit side by side, so they cannot drift.
  *
  * Implementors are top-level Scala objects: the compiler gives each a
  * JVM-static `compute(byte[])` forwarder, which [[MetaExpr]]'s generated
  * code calls directly. */
trait MetaParser extends Serializable {
  def name: String
  def schema: StructType
  def compute(b: Array[Byte]): InternalRow

  /** `name(payload)` as a Column. */
  def apply(payload: Column): Column =
    ColumnShim.column(MetaExpr(ColumnShim.expression(payload), this))
}

object MetaParser {
  /** Every parser function; [[graft.plans.GraftExtensions.functions]]
    * wires each as a SQL function. */
  val all: Seq[MetaParser] = Seq(ImageHeader, AudioHeader, VideoHeader,
    Utf8Stats, MpegAudioHeader, AvcSpsHeader, AdtsHeader, FlacHeader,
    OggOpusHeader, Id3v2Tags, JpegExif)
}

/** `parser.name(payload)`: the parser's struct for a binary payload, null
  * for a null or refused one. The interpreted path and the generated code
  * make the same single call into `parser.compute`, so their rows cannot
  * diverge. */
case class MetaExpr(child: Expression, parser: MetaParser) extends UnaryExpression {

  override def prettyName: String = parser.name
  override def dataType: DataType = parser.schema
  override def nullable: Boolean = true

  /** The parser object prints as its SQL name, never as an argument. */
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"${parser.name} expects binary, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    parser.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the object's class `pkg.Name$` carries the static forwarder on `pkg.Name`
    val cls = parser.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => {
      val out = ctx.freshName("meta")
      s"""
         |InternalRow $out = $cls.compute($c);
         |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
