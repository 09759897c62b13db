package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** splitmix64(x bigint) → bigint: the splitmix64 finalizer
  * (== graft.corpus.SyntheticCorpus.mix) as a native Catalyst expression.
  *
  * Needed because Spark 4 runs ANSI mode by default, where Column-level
  * long arithmetic THROWS on the wraparound multiplies a mixer is built
  * from; a native expression evaluates plain Java long arithmetic (which
  * wraps, as the hash requires) and stays inside whole-stage codegen —
  * no UDF boxing, no ANSI interception.
  */
case class Splitmix64Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType || child.dataType == NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"splitmix64 expects bigint, got ${child.dataType}")

  override def dataType: DataType = LongType

  override def nullSafeEval(x: Any): Any =
    graft.corpus.SyntheticCorpus.mix(x.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = graft.corpus.SyntheticCorpus$$.MODULE$$.mix($x);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
