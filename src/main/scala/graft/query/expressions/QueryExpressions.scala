package graft.query.expressions

import org.apache.spark.sql.{Column, SparkSession}
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
  private[expressions] val Name = "graft_double_param"

  /** `value` as a column; the session must be [[QueryExpressions.prepare]]d. */
  def column(value: Double): Column = call_function(Name, lit(value))

  private[expressions] def build(args: Seq[Expression]): Expression = args match {
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
  private[expressions] val Name = "graft_in_values"

  /** `child IN values`; the session must be [[QueryExpressions.prepare]]d. */
  def column[T: TypeTag](child: Column, values: Seq[T]): Column =
    call_function(Name, child, typedLit(values))

  private[expressions] def build(args: Seq[Expression]): Expression = args match {
    case Seq(child, Literal(values: ArrayData, ArrayType(et, _)))
        if DataType.equalsStructurally(child.dataType, et, ignoreNullability = true) =>
      // always a HashSet: generated code casts the set to its runtime
      // class, and Scala's small sets have one class per size
      InSet(child, HashSet.from(values.toArray[Any](et)))
    case _ => throw new IllegalArgumentException(
      s"$Name expects a column and an array literal of its type, got ${args.mkString(", ")}")
  }
}

object QueryExpressions {
  private val UseIdInClassName = "spark.sql.codegen.useIdInClassName"

  /** Ready `spark` to serve queries (idempotent; [[graft.query.Engine]],
    * [[graft.query.Wand]] and the indexes' postings lookups call it per
    * query): registers the positional kernels, [[DoubleParam]] and
    * [[InValues]], and drops the stage id from generated class names.
    * Spark names each whole-stage class after its stage id, so the same
    * leaf-scan code at another union position would otherwise be a
    * distinct class and compile again. Only class names change.
    */
  def prepare(spark: SparkSession): Unit = {
    if (spark.conf.get(UseIdInClassName, "true") != "false")
      spark.conf.set(UseIdInClassName, "false")
    PositionalExpressions.register(spark)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      DoubleParam.Name, DoubleParam.build, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      InValues.Name, InValues.build, "scala_udf")
  }
}
