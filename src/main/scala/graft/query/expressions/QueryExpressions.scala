package graft.query.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit, typedLit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import scala.collection.immutable.HashSet
import scala.reflect.runtime.universe.TypeTag

/** A per-query double (idf, prior term, merge default, weight) that
  * generated code reads from the class's `references` array instead of
  * inlining it into the Java source. Plans that differ only in such values
  * generate the same source, so Spark's codegen cache compiles their
  * classes once. Not foldable, so the optimizer keeps it a parameter.
  */
case class DoubleParam(value: Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Double.valueOf(value))
    ev.copy(code = code"final double ${ev.value} = $ref.doubleValue();",
      isNull = FalseLiteral)
  }
}

object DoubleParam {
  private[graft] val Name = "graft_double_param"

  /** `value` as a column; the session must have the engine's functions
    * ([[graft.GraftExtensions.install]]). */
  def column(value: Double): Column = call_function(Name, lit(value))

  private[graft] def build(args: Seq[Expression]): Expression = args match {
    case Seq(Literal(v: Double, DoubleType)) => DoubleParam(v)
    case _ => throw new IllegalArgumentException(
      s"$Name expects one double literal, got ${args.mkString(", ")}")
  }
}

/** `child IN values` as an [[InSet]]. Its generated code reads the set
  * from the class's `references`, so predicates over sets of any size
  * share one generated class (an `In`, which `Column.isin` builds, unrolls
  * one comparison per value), and over a plain column it still pushes
  * down to parquet as `In`.
  */
object InValues {
  private[graft] val Name = "graft_in_values"

  /** `child IN values`; the session must have the engine's functions
    * ([[graft.GraftExtensions.install]]). */
  def column[T: TypeTag](child: Column, values: Seq[T]): Column =
    call_function(Name, child, typedLit(values))

  private[graft] def build(args: Seq[Expression]): Expression = args match {
    case Seq(child, Literal(values: ArrayData, ArrayType(et, _)))
        if DataType.equalsStructurally(child.dataType, et, ignoreNullability = true) =>
      // always a HashSet: generated code casts the set to its runtime
      // class, and Scala's small sets have one class per size
      InSet(child, HashSet.from(values.toArray[Any](et)))
    case _ => throw new IllegalArgumentException(
      s"$Name expects a column and an array literal of its type, got ${args.mkString(", ")}")
  }
}
