package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{InSet, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.immutable.HashSet

/** A per-call scalar that generated code reads through a reference.
  *
  * A literal's value is part of the generated Java source (`5L`,
  * `0.7071067811865476D`), and Spark caches compiled classes by their
  * source: two probes that differ only in ‖q‖, the excluded id or the
  * shortlist cut compile two sets of classes. `Param` instead hands its
  * value to the generated class through `ctx.addReferenceObj`, so the
  * source names only a slot of the references array, and every call with
  * the same plan shape reuses one compiled class.
  *
  * It is deliberately not foldable: `ConstantFolding` would replace it,
  * and every expression built on it, with a `Literal`, which inlines the
  * value again. It is deterministic and never null, so the optimizer
  * still infers `isnotnull` on the column it is compared with, as for a
  * literal. A predicate on it is not pushed to a file source, which only
  * takes literals: bind a value a scan should prune on as an [[InSet]]
  * ([[Params.isIn]]), which is also a reference and still pushed.
  *
  * `value` is a boxed value of the primitive `dataType`.
  */
case class Param(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && CodeGenerator.isPrimitiveType(dataType),
    s"Param: binds a non-null primitive, got $value: $dataType")

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"$javaType ${ev.value} = $ref.${javaType}Value();", isNull = FalseLiteral)
  }

  override def toString: String = s"param($value)"
}

/** Column-level constructors of per-call values bound as references. */
object Params {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def param(v: Double): Column = column(Param(v, DoubleType))
  def param(v: Long): Column = column(Param(v, LongType))

  /** `c IN values` as an [[InSet]]: its generated code reads the set
    * through a reference, and a file source still takes it as an `In`
    * filter. The set is always a `HashSet`, because the generated code
    * names the set's runtime class, and Scala's small sets have one
    * class per size. `values` are in the column's Scala form (strings
    * are converted).
    */
  def isIn(c: Column, values: Iterable[Any]): Column =
    column(InSet(expression(c), HashSet.from(values.map {
      case s: String => UTF8String.fromString(s)
      case v         => v
    })))
}
