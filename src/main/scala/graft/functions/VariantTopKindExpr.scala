package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.types.variant.VariantUtil
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}

/** O(1) top-level storage-kind label of a variant value, read from the
  * variant binary's header byte — the drop-in replacement for
  * `schema_of_variant` in the dynamic compiler's type dispatch.
  *
  * `schema_of_variant` recursively walks the ENTIRE value and renders a
  * full schema string ("OBJECT<next: OBJECT<…>, v: BIGINT>") when the
  * dispatch only ever reads the leading token; on nested documents each
  * nesting level re-walks its whole subtree, so a depth-d chain paid
  * O(d²) traversal + string building per row. This expression returns just
  * the top token, byte-compatible with every comparison the compiler
  * emits: "VOID" (JSON null), "OBJECT"/"ARRAY" (containers — prefix
  * compare), "STRING"/"DATE"/"TIMESTAMP"/"TIMESTAMP_NTZ"/"BINARY"/"UUID"
  * (string-classified storage), "BOOLEAN", "DOUBLE"/"FLOAT" (the
  * shortest-repr storage classes), "BIGINT", and bare "DECIMAL" (the
  * dispatch never reads a decimal's precision — containers and decimals
  * both only ever see prefix/equality tests against the labels above).
  */
case class VariantTopKindExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "variant_top_kind"

  override protected def nullSafeEval(input: Any): Any =
    VariantTopKindExpr.kind(input.asInstanceOf[VariantVal])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VariantTopKindExpr.kind($c)")

  override protected def withNewChildInternal(newChild: Expression): VariantTopKindExpr =
    copy(child = newChild)
}

object VariantTopKindExpr {

  private val VOID = UTF8String.fromString("VOID")
  private val OBJECT = UTF8String.fromString("OBJECT")
  private val ARRAY = UTF8String.fromString("ARRAY")
  private val BOOLEAN = UTF8String.fromString("BOOLEAN")
  private val BIGINT = UTF8String.fromString("BIGINT")
  private val STRING = UTF8String.fromString("STRING")
  private val DOUBLE = UTF8String.fromString("DOUBLE")
  private val DECIMAL = UTF8String.fromString("DECIMAL")
  private val DATE = UTF8String.fromString("DATE")
  private val TIMESTAMP = UTF8String.fromString("TIMESTAMP")
  private val TIMESTAMP_NTZ = UTF8String.fromString("TIMESTAMP_NTZ")
  private val FLOAT = UTF8String.fromString("FLOAT")
  private val BINARY = UTF8String.fromString("BINARY")
  private val UUID = UTF8String.fromString("UUID")

  /** Top-level kind from the header byte — no subtree traversal. */
  def kind(v: VariantVal): UTF8String =
    VariantUtil.getType(v.getValue, 0) match {
      case VariantUtil.Type.NULL => VOID
      case VariantUtil.Type.OBJECT => OBJECT
      case VariantUtil.Type.ARRAY => ARRAY
      case VariantUtil.Type.BOOLEAN => BOOLEAN
      case VariantUtil.Type.LONG => BIGINT
      case VariantUtil.Type.STRING => STRING
      case VariantUtil.Type.DOUBLE => DOUBLE
      case VariantUtil.Type.DECIMAL => DECIMAL
      case VariantUtil.Type.DATE => DATE
      case VariantUtil.Type.TIMESTAMP => TIMESTAMP
      case VariantUtil.Type.TIMESTAMP_NTZ => TIMESTAMP_NTZ
      case VariantUtil.Type.FLOAT => FLOAT
      case VariantUtil.Type.BINARY => BINARY
      case VariantUtil.Type.UUID => UUID
      // a storage type this Spark version added: name it instead of a
      // bare MatchError from generated code
      case other => throw new UnsupportedOperationException(
        s"variant storage type $other has no JSON kind mapping")
    }

  def apply(c: Column): Column =
    GraftColumnBridge.column(VariantTopKindExpr(GraftColumnBridge.expression(c)))
}
